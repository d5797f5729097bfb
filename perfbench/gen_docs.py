#!/usr/bin/env python3
"""Seeded document micro-batches for the `curate_stream` workload.

Writes BATCHES files of DOCS documents each (JSON lines, `doc_id` +
`text`) and labels every document:

- `unique`: fresh English-like text (60 tokens; a fifth of them the
  stop/marker words the quality gate and language ID look for, the rest
  drawn from a 5,000-word synthetic vocabulary), so it passes the
  curation gate and shares no near-duplicate with any other document;
- `resend`: the exact text of a unique document from an earlier batch,
  under a new id (a client retry) -- the signature store must drop it;
- `near`: a unique document from an earlier batch with one token
  replaced (3-shingle Jaccard 55/61 = 0.90, above the 0.8 threshold).

The first batch is all unique; every later batch carries exactly
RESEND_SHARE exact re-sends and NEAR_SHARE near-duplicates, in seeded
positions. Returns the labels as {doc_id: label}.

Usage: python3 gen_docs.py OUT_DIR SEED [BATCHES] [DOCS]
"""
import json
import os
import random
import sys

RESEND_SHARE = 0.1
NEAR_SHARE = 0.1
TOKENS = 60
MARKERS = ["the", "and", "of", "to", "is", "a", "in", "on", "for"]


def generate(out, seed, batches=40, docs=200):
    rnd = random.Random(seed)
    vocab = sorted({"".join(rnd.choice("bcdfghjklmnprstvwz") +
                            rnd.choice("aeiou") for _ in range(rnd.randint(2, 4)))
                    for _ in range(6000)})[:5000]
    os.makedirs(out, exist_ok=True)
    labels = {}
    earlier = []  # unique texts of completed batches
    next_id = 1
    for b in range(batches):
        # exact shares per batch (not per-document coin flips), so every
        # seed sends the same number of each kind and only content varies
        n_dup = round(RESEND_SHARE * docs) if earlier else 0
        n_near = round(NEAR_SHARE * docs) if earlier else 0
        kinds = (["resend"] * n_dup + ["near"] * n_near +
                 ["unique"] * (docs - n_dup - n_near))
        rnd.shuffle(kinds)
        batch_unique = []
        lines = []
        for kind in kinds:
            if kind == "resend":
                text = rnd.choice(earlier)
            elif kind == "near":
                toks = rnd.choice(earlier).split()
                pos = rnd.randrange(3, TOKENS - 3)
                toks[pos] = rnd.choice([v for v in rnd.sample(vocab, 2)
                                        if v != toks[pos]])
                text = " ".join(toks)
            else:
                text = " ".join(rnd.choice(MARKERS) if rnd.random() < 0.2
                                else rnd.choice(vocab) for _ in range(TOKENS))
                batch_unique.append(text)
            labels[next_id] = kind
            lines.append(json.dumps({"doc_id": next_id, "text": text}))
            next_id += 1
        with open(os.path.join(out, f"batch_{b:04d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        earlier.extend(batch_unique)
    return labels


if __name__ == "__main__":
    args = sys.argv[1:]
    labs = generate(args[0], int(args[1]),
                    *(int(a) for a in args[2:4]))
    print({k: list(labs.values()).count(k) for k in set(labs.values())})
