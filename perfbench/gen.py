"""Seeded input generator for the `mapreduce` workload.

Writes, from one seed and in one process:

* ``input/part-XX.txt``: 16 text files drawn from a Zipf vocabulary, with
  blank lines, tabs, doubled spaces, bracketed words and mixed case;
* ``query.txt``: the grep query;
* ``expected.json``: the exact word counts (the reference word-count
  semantics: lowercase, split on space, tab, ``[`` and ``]``, empty tokens
  kept, so a blank line counts under the empty key) and the exact sorted
  grep output for the chosen query;
* ``wc_map.sh`` / ``wc_reduce.sh``: reference-style Hadoop-streaming word
  count executables (``tr`` split, ``uniq -c`` reduce).

The engine sees only these files.  Usage: ``python3 gen.py <seed> <dir>``.
"""

import collections
import itertools
import json
import os
import random
import re
import string
import sys

N_FILES = 16
TARGET_BYTES = 640 * 1024
VOCAB = 40000
ZIPF_S = 1.07
SPLIT = re.compile(r"[ \t\[\]]")

WC_MAP = """#!/bin/sh
# Word-count mapper: lowercase, split on space, tab and brackets (one token
# per line, empty tokens kept), emit "<word>\\t1".
export LC_ALL=C
tr '[:upper:]' '[:lower:]' | tr '[ \\t]' '\\n' | sed 's/$/\\t1/'
"""

WC_REDUCE = """#!/bin/sh
# Word-count reducer: the input is sorted by key, so `uniq -c` counts each
# key's run; re-emit as "<word>\\t<count>" (the empty key included).
export LC_ALL=C
cut -f1 | uniq -c | sed -E 's/^ *([0-9]+) (.*)$/\\2\\t\\1/; s/^ *([0-9]+)$/\\t\\1/'
"""


LENGTHS = (2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 11)


def word(rng, rank):
    """A word whose length and case depend only on its frequency rank, so
    every seed yields text of the same shape (tokens per MB, lowercasing
    work); the seed picks the letters."""
    n = LENGTHS[rank % len(LENGTHS)] + (0 if rank < 500 else 2)
    w = "".join(rng.choice(string.ascii_lowercase) for _ in range(n))
    if rank % 13 == 5:
        w = w.capitalize()
    elif rank % 47 == 11:
        w = w.upper()
    return w


def separator(rng):
    r = rng.random()
    if r < 0.90:
        return " "
    if r < 0.95:
        return "\t"
    return "  "


def line(rng, vocab, cum):
    if rng.random() < 0.04:
        return "" if rng.random() < 0.7 else rng.choice((" ", "\t", "  "))
    n = rng.randint(1, 18)
    words = rng.choices(vocab, cum_weights=cum, k=n)
    if rng.random() < 0.1:
        i = rng.randrange(n)
        words[i] = "[" + words[i] + "]"
    out = words[0]
    for w in words[1:]:
        out += separator(rng) + w
    if rng.random() < 0.03:
        out = separator(rng) + out
    return out


def generate(seed, root):
    rng = random.Random(seed)
    seen = set()
    vocab = []
    while len(vocab) < VOCAB:
        w = word(rng, len(vocab))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB)))
    # A mid-frequency word as the grep query (lowercase, as the mapper
    # lowers only the line); a fixed rank keeps the match rate steady.
    query = vocab[66].lower()

    inp = os.path.join(root, "input")
    os.makedirs(inp, exist_ok=True)
    counts = collections.Counter()
    grep = []
    per_file = TARGET_BYTES // N_FILES
    for f in range(N_FILES):
        lines, size = [], 0
        while size < per_file:
            ln = line(rng, vocab, cum)
            lines.append(ln)
            size += len(ln) + 1
        with open(os.path.join(inp, "part-%02d.txt" % f), "w", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        for ln in lines:
            low = ln.lower()
            counts.update(SPLIT.split(low))
            s = ln.strip()
            if s and query in s.lower():
                grep.append(s)

    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump({"seed": seed, "query": query, "counts": counts,
                   "grep": sorted(grep)}, fh)
    with open(os.path.join(root, "query.txt"), "w") as fh:
        fh.write(query + "\n")
    for name, body in (("wc_map.sh", WC_MAP), ("wc_reduce.sh", WC_REDUCE)):
        p = os.path.join(root, name)
        with open(p, "w") as fh:
            fh.write(body)
        os.chmod(p, 0o755)
    return query


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen.py <seed> <dir>")
    generate(int(sys.argv[1]), sys.argv[2])
