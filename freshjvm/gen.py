"""Seeded word-count corpus for the fresh-JVM benchmark.

Plain-text files written with the reference job's tokenization quirks in
mind, plus the exact word counts they hold; a pure function of the seed.
The registered lanes read fixed tables instead (`data/`, see README.md).
"""
from collections import Counter
from pathlib import Path

import numpy as np

CORPUS_WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
                "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
                "ad minim veniam quis nostrud exercitation ullamco laboris nisi "
                "aliquip ex ea commodo consequat duis aute irure in reprehenderit "
                "voluptate velit esse cillum fugiat nulla pariatur excepteur sint "
                "occaecat cupidatat non proident sunt culpa qui officia deserunt "
                "mollit anim id est laborum").split()
PUNCT = [",", ".", ";", ":", "!", "?", "'s", ")", "-"]
# The reference's normalizer deletes [^\w] (Java's ASCII \w) from each
# space-split token; on ASCII text deleting every other character except
# the space first, then splitting, gives the same tokens.
_STRIP = {c: None for c in range(128)
          if not (chr(c).isascii() and (chr(c).isalnum() or chr(c) in "_ "))}


def corpus(seed, n_files, file_bytes):
    """({file name: text}, {word: count}) for the word-count job.

    Lines are joined with a bare newline, so the last token of a line and
    the first of the next merge into one token under the reference's
    single-space split; tokens carry punctuation and mixed case, which the
    normalizer strips and folds. Some lines end in a space and some
    tokens are doubled spaces, so empty tokens occur and are dropped.
    """
    rng = np.random.default_rng([seed, 2])
    base = CORPUS_WORDS + [f"w{i:x}" for i in range(4000)]
    # each word in three spellings (lower, Capitalized, UPPER), optionally
    # followed by punctuation; all of them normalize back to the word
    spelled = np.asarray(
        [s + p for w in base for s in (w, w.capitalize(), w.upper())
         for p in [""] + PUNCT], dtype=object).reshape(len(base), 3, len(PUNCT) + 1)
    # Zipf-like weights: a few very hot words, a long tail of rare ones
    weights = 1.0 / np.arange(1, len(base) + 1) ** 1.1
    weights /= weights.sum()
    files, counts = {}, Counter()
    for f in range(n_files):
        n = file_bytes // 6
        word = rng.choice(len(base), n, p=weights)
        case = rng.choice(3, n, p=[0.85, 0.12, 0.03])
        punct = np.where(rng.random(n) < 0.15, rng.integers(1, len(PUNCT) + 1, n), 0)
        toks = spelled[word, case, punct]
        # separators: mostly one space; a line break every ~12 tokens (no
        # space, so neighbours merge), sometimes a doubled space or a
        # trailing space before the break (empty tokens)
        sep = rng.choice(4, n, p=[0.87, 0.08, 0.03, 0.02])
        seps = np.asarray([" ", "\n", "  ", " \n"], dtype=object)[sep]
        text = "".join((toks + seps).tolist())[:file_bytes] + "\n"
        files[f"file{f:03d}.txt"] = text
        counts.update(t for t in text.lower().translate(_STRIP).split(" ") if t)
    return files, dict(counts)


def write_corpus(out_dir, seed, n_files, file_bytes):
    """Writes the corpus files; returns the word counts they hold."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    files, counts = corpus(seed, n_files, file_bytes)
    for name, text in files.items():
        (out / name).write_text(text)
    return counts

