"""Seeded plain-text corpus for the wordcount workload.

The shape follows the reference's RawText/ input: a directory of 128
plain-text files, whitespace-separated tokens. Word frequencies follow
a Zipf law over a generated vocabulary; some tokens are capitalized and
some carry ASCII punctuation, so the cleaning step (strip C `ispunct`
characters, then lowercase, as graft.operators.TextOps.cleanWord does)
does real work. Next to the directory the generator writes the exact
expected (word, count) table, so a run can check its output without
Spark.

Usage: python3 perfbench/corpus.py <out_dir> <seed> [megabytes]
"""
import itertools
import os
import random
import string
import sys

FILES = 128
VOCABULARY = 60000
CAPITALIZED = 0.10
PUNCTUATED = 0.15
TOKENS_PER_LINE = 12
# C ispunct in the C locale: the ASCII class TextOps.IspunctClass matches
PUNCT = "".join(c for c in map(chr, range(33, 127)) if not c.isalnum())
_STRIP = str.maketrans("", "", PUNCT)


def clean_word(token):
    """TextOps.cleanWord: strip ispunct characters, then lowercase."""
    return token.translate(_STRIP).lower()


def _vocabulary(rng):
    words = set()
    while len(words) < VOCABULARY:
        n = rng.choice((2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 8, 9, 10, 12))
        words.add("".join(rng.choices(string.ascii_lowercase, k=n)))
    return sorted(words)


def _decorate(rng, word):
    if rng.random() < CAPITALIZED:
        word = word.upper() if rng.random() < 0.2 else word.capitalize()
    if rng.random() < PUNCTUATED:
        p = rng.choice(PUNCT)
        where = rng.random()
        if where < 0.6:
            word = word + p
        elif where < 0.8:
            word = p + word
        else:
            cut = rng.randrange(len(word) + 1)
            word = word[:cut] + p + word[cut:]
    return word


def generate(out_dir, seed, megabytes=8):
    """Write the corpus under `out_dir` and `<out_dir>.expected.tsv`.
    The same seed and size give byte-identical files."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    rng.shuffle(vocab)
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(vocab))))
    target = megabytes * 1_000_000 // FILES
    counts = {}
    os.makedirs(out_dir, exist_ok=True)
    for f in range(FILES):
        lines, size = [], 0
        while size < target:
            words = rng.choices(vocab, cum_weights=cum, k=TOKENS_PER_LINE)
            tokens = [_decorate(rng, w) for w in words]
            if rng.random() < 0.02:
                tokens.append(rng.choice(("--", "...", "&", "(*)")))
            line = " ".join(tokens)
            lines.append(line)
            size += len(line) + 1
            for t in tokens:
                w = clean_word(t)
                if w:
                    counts[w] = counts.get(w, 0) + 1
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "w", encoding="ascii", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
    with open(out_dir.rstrip("/") + ".expected.tsv", "w", encoding="ascii", newline="\n") as fh:
        fh.writelines(f"{w}\t{counts[w]}\n" for w in sorted(counts))
    return counts


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 8)
