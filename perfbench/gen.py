"""Seeded input generator for the graft benchmark.

One seed produces one workload's inputs under <out>/inputs (the only files
the program reads) and the planted ground truth under <out>/truth (read only
by check.py). The same (workload, seed, size) always produces the same bytes.

    python3 perfbench/gen.py --workload store_lifecycle --seed 1 --out DIR
"""
import argparse
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. "full" is what the benchmark measures; "smoke" runs every op
# and every check on small inputs (the benchmark's own test).
SIZES = {
    "full": dict(frame_rows=20000, events=20000, batch=3000,
                 stream_files=2, stream_rows=1000, index_docs=800,
                 gate_docs=150, vectors=1500, queries=20),
    "smoke": dict(frame_rows=600, events=3000, batch=500,
                  stream_files=2, stream_rows=200, index_docs=200,
                  gate_docs=40, vectors=600, queries=5),
}

DIM = 32            # vector dimension
CLUSTERS = 16       # vector cluster centres
VOCAB = 20000       # content-word vocabulary

# The tokenizer every text check uses: lowercase, split on runs of
# characters that are not letters or digits (the engine splits on
# [^\p{L}\p{N}]+; the generated text is ASCII, where [\W_]+ is the same).
TOKEN_SPLIT = re.compile(r"[\W_]+")

STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
             "with", "as", "was", "on", "be", "this", "are", "or", "an",
             "have", "by", "from", "at", "not", "but", "we", "they", "which"]

# Null-id documents: fixed text, independent of the seed. They are in the
# NB classifier's training split, so its same-corpus form must count them.
NULL_ID_TEXTS = [
    "The archive of the harbour office holds the ledgers of every ship that "
    "came to the port, and the clerks kept them with care for many years. "
    "Each ledger lists the cargo, the crew and the weather of the voyage.",
    "A small garden behind the library has herbs and roses, and the "
    "gardeners water it in the morning before the readers arrive. The "
    "benches there are a quiet place to read in the summer afternoons.",
    "The mountain railway climbs through seven tunnels and over three "
    "bridges, and the engineers who built it worked for eleven winters. "
    "Travellers still stop at the middle station to see the valley below.",
    "Old maps of the river show the mills that stood along its banks, and "
    "the names of the millers are written beside each wheel. Most of the "
    "mills are gone now, but the stones of the weirs remain in the water.",
    "The orchestra rehearses in the hall on the square every Thursday, and "
    "the conductor asks the players to arrive early to tune. The concerts "
    "in the winter season draw listeners from the towns along the coast.",
]


def tokens(text):
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def shingles3(text):
    ts = tokens(text)
    return {" ".join(ts[i:i + 3]) for i in range(len(ts) - 2)}


def jaccard(a, b):
    sa, sb = shingles3(a), shingles3(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class Words:
    """A web-like word source: a Zipf-ranked pseudo-word vocabulary mixed
    with a stopword stream at roughly the density of English prose."""

    def __init__(self, rng):
        syl = [c + v for c in "bcdfghklmnprstvwz" for v in "aeiou"] + \
              [c + v + e for c in "bdgkmnprst" for v in "aeiou" for e in "lnrs"]
        seen, words = set(STOPWORDS), []
        while len(words) < VOCAB:
            n = int(rng.integers(1, 4))
            w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), n))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.vocab = np.array(words)
        ranks = np.arange(1, VOCAB + 1)
        p = 1.0 / (ranks + 2.7) ** 1.07
        self.p = p / p.sum()
        sp = 1.0 / np.arange(1, len(STOPWORDS) + 1)
        self.sp = sp / sp.sum()
        self.stops = np.array(STOPWORDS)
        self.rng = rng

    def draw(self, n):
        rng = self.rng
        content = self.vocab[rng.choice(VOCAB, n, p=self.p)]
        stops = self.stops[rng.choice(len(STOPWORDS), n, p=self.sp)]
        return np.where(rng.random(n) < 0.42, stops, content)

    def prose(self, nwords):
        """Sentences of 6-24 words in paragraphs of 2-6 sentences."""
        rng = self.rng
        words = self.draw(nwords)
        out, para, i = [], [], 0
        while i < nwords:
            k = min(int(rng.integers(6, 25)), nwords - i)
            sent = list(words[i:i + k])
            sent[0] = sent[0].capitalize()
            if k > 8 and rng.random() < 0.4:
                sent[k // 2] += ","
            para.append(" ".join(sent) + ".")
            i += k
            if len(para) >= int(rng.integers(2, 7)):
                out.append(" ".join(para))
                para = []
        if para:
            out.append(" ".join(para))
        return "\n".join(out)


def mutate(rng, words, text, q):
    """Replace a fraction q of the tokens of `text` with fresh words."""
    parts = text.split(" ")
    n = len(parts)
    for i in rng.choice(n, max(1, int(round(q * n))), replace=False):
        parts[i] = str(words.draw(1)[0])
    return " ".join(parts)


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def dump(obj, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


# -------------------------------------------------------------- kframe_reshape

def gen_kframe(rng, z, out):
    n = z["frame_rows"]
    regions = ["north", "south", "east", "west", "central", "coast", "alpine",
               "delta"]
    products = [f"p{i:02d}" for i in range(24)]
    months = [f"m{i:02d}" for i in range(1, 13)]
    channels = ["store", "online", "phone"]

    def frame(m, base):
        return pa.table({
            "rid": pa.array(np.arange(base, base + m, dtype=np.int64)),
            "region": pa.array(rng.choice(regions, m)),
            "product": pa.array(rng.choice(products, m)),
            "month": pa.array(rng.choice(months, m)),
            "channel": pa.array(rng.choice(channels, m)),
            "units": pa.array(rng.integers(1, 200, m).astype(np.int64)),
            "price": pa.array(np.round(rng.uniform(1, 500, m), 2)),
        })

    write(frame(n, 1), f"{out}/inputs/sales.parquet")
    write(frame(n // 4, n + 1), f"{out}/inputs/sales_more.parquet")
    # one row per region x month with every cell present: melt, cast, stack
    # and unstack must return its transpose
    wide = {"region": pa.array(regions)}
    for mth in months:
        wide[mth] = pa.array(np.round(rng.uniform(0, 1000, len(regions)), 3))
    write(pa.table(wide), f"{out}/inputs/wide.parquet")
    # one score per row of sales followed by sales_more (the zip partner)
    write(pa.table({"score": pa.array(np.round(rng.uniform(0, 1, n + n // 4), 6))}),
          f"{out}/inputs/scores.parquet")


# ------------------------------------------------------------- store_lifecycle

def gen_store(rng, z, out):
    kinds = ["view", "click", "cart", "buy", "share", "rate", "rare1", "rare2"]
    kp = np.array([0.4, 0.25, 0.12, 0.08, 0.07, 0.07, 0.005, 0.005])
    words = Words(rng)

    def events(m, base):
        k = rng.choice(len(kinds), m, p=kp / kp.sum())
        # users: a heavy-tailed id space; the rare kinds have few users, so
        # the HLL estimate is in its small-range (linear counting) regime
        users = np.where(k >= 6, rng.integers(0, 120, m),
                         (rng.pareto(1.2, m) * 500).astype(np.int64) % 40000)
        return pa.table({
            "event_id": pa.array(np.arange(base, base + m, dtype=np.int64)),
            "kind": pa.array([kinds[i] for i in k]),
            "user": pa.array([f"u{u}" for u in users]),
            "tok": pa.array(words.draw(m)),
            "size": pa.array((rng.lognormal(6, 1.5, m)).astype(np.int64) + 1),
        })

    n, b = z["events"], z["batch"]
    write(events(n, 0), f"{out}/inputs/events_base.parquet")
    write(events(b, n), f"{out}/inputs/events_batch.parquet")
    s0 = n + b
    for i in range(z["stream_files"]):
        m = z["stream_rows"]
        write(events(m, s0 + i * m), f"{out}/inputs/stream/part-{i:03d}.parquet")

    # band index corpus + a gate batch with planted near-duplicates
    idx_texts = [words.prose(int(rng.integers(60, 200)))
                 for _ in range(z["index_docs"])]
    write(pa.table({"doc_id": pa.array(np.arange(z["index_docs"], dtype=np.int64)),
                    "text": pa.array(idx_texts)}),
          f"{out}/inputs/index_docs.parquet")
    gate, near = [], []
    for j in range(z["gate_docs"]):
        if j % 3 == 0:
            src = int(rng.integers(0, len(idx_texts)))
            t = mutate(rng, words, idx_texts[src], float(rng.uniform(0.003, 0.03)))
            near.append([100000 + j, src, jaccard(t, idx_texts[src])])
        else:
            t = words.prose(int(rng.integers(60, 200)))
        gate.append(t)
    gate_ids = np.arange(100000, 100000 + len(gate), dtype=np.int64)
    write(pa.table({"doc_id": pa.array(gate_ids), "text": pa.array(gate)}),
          f"{out}/inputs/gate_docs.parquet")

    # the NB quality classifier's frame: indexed docs train it (source is
    # the label), new docs are scored; the null-id docs are training docs
    n_idx = len(idx_texts)
    write(pa.table({
        "doc_id": pa.array([int(i) for i in range(n_idx)] + [int(i) for i in gate_ids]
                           + [None] * len(NULL_ID_TEXTS), pa.int64()),
        "text": pa.array(idx_texts + gate + NULL_ID_TEXTS),
        "source": pa.array(list(rng.choice(["wiki", "web"], n_idx))
                           + ["web"] * len(gate) + ["wiki"] * len(NULL_ID_TEXTS)),
        "split": pa.array(["train"] * n_idx + ["score"] * len(gate)
                          + ["train"] * len(NULL_ID_TEXTS)),
    }), f"{out}/inputs/labeled_docs.parquet")

    # vectors for the IVF-PQ index; queries are indexed vectors
    centres = unit(rng.normal(size=(CLUSTERS, DIM)))
    label = rng.integers(0, CLUSTERS, z["vectors"])
    vecs = unit(centres[label] + rng.normal(scale=0.25, size=(z["vectors"], DIM)))
    write(pa.table({"vec_id": pa.array(np.arange(z["vectors"], dtype=np.int64)),
                    "vec": pa.array([list(map(float, v)) for v in vecs],
                                    pa.list_(pa.float64()))}),
          f"{out}/inputs/vectors.parquet")
    qids = np.sort(rng.choice(z["vectors"], z["queries"], replace=False))
    write(pa.table({"vec_id": pa.array(qids.astype(np.int64)),
                    "vec": pa.array([list(map(float, vecs[i])) for i in qids],
                                    pa.list_(pa.float64()))}),
          f"{out}/inputs/queries.parquet")
    dump({"gate_near": near}, f"{out}/truth/store.json")


GENERATORS = {"kframe_reshape": gen_kframe, "store_lifecycle": gen_store}


def generate(workload, seed, size, out):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, SIZES[size], out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    a = ap.parse_args()
    generate(a.workload, a.seed, a.size, a.out)


if __name__ == "__main__":
    main()
