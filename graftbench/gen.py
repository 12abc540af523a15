"""Seeded input generators for the graft benchmark.

Every generator takes the seed as an argument: the same seed gives
byte-identical files and orders, another seed gives different ones.
The query lines read graft's sf0.01 test fixture, which is kept under
fixture/ as it is and not generated.

- `corpus(seed, out, ...)`: a Zipf-vocabulary ASCII text corpus split
  over several files, for the MapReduce word-count workload.
- `permutation(seed, names)`: the order in which a mix runs its lines.
"""
import hashlib
import os
import random

import numpy as np


def _vocabulary(rng, size):
    """`size` distinct lowercase tokens; a few are numbers."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, vocab = set(), []
    while len(vocab) < size:
        if rng.random() < 0.03:
            w = str(rng.integers(0, 100_000))
        else:
            w = "".join(letters[rng.integers(0, 26, rng.integers(2, 11))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return np.array(vocab)


def corpus(seed, out, files=32, tokens_per_file=40_000, vocab_size=20_000,
           zipf_s=1.1):
    """Write `files` text files of Zipf-distributed tokens into `out`.

    Tokens are ASCII letters and digits. Some are capitalised and the
    separators include punctuation, so tokenisation and lower-casing
    both do work. Returns the file paths in name order."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    caps = np.char.capitalize(vocab)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p /= p.sum()
    seps = np.array([" ", " ", " ", " ", ", ", ". ", "; ", " - ", " (", ") "])
    paths = []
    for f in range(files):
        ids = rng.choice(vocab_size, tokens_per_file, p=p)
        toks = np.where(rng.random(tokens_per_file) < 0.1, caps[ids], vocab[ids])
        sep = seps[rng.integers(0, len(seps), tokens_per_file)]
        # a line ends after every ~12 tokens
        sep[rng.random(tokens_per_file) < 1 / 12] = "\n"
        sep[-1] = "\n"
        text = "".join(np.char.add(toks, sep).tolist())
        path = os.path.join(out, f"part-{f:02d}.txt")
        with open(path, "w", encoding="ascii", newline="\n") as fh:
            fh.write(text)
        paths.append(path)
    return paths


def permutation(seed, names):
    """The run order of a mix: a seeded shuffle of the sorted names."""
    order = sorted(names)
    random.Random(f"graftbench-order-{seed}").shuffle(order)
    return order


def digest(paths):
    """SHA-256 over the names and bytes of `paths` (sorted by name)."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
