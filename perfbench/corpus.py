"""Seeded text corpus for the mapreduce workload, and its expected outputs.

The corpus is `{i}.txt` for i < files: ASCII words from a Zipf-weighted
vocabulary, separated by spaces, tabs and newlines, with log-normal file
sizes so the largest file is several times the median (task skew). ASCII
keeps bytes equal to codepoints, the unit graft's map tasks count in.

The expected outputs are computed here from the bytes written, with numpy
and Python only, never with graft code, and rendered the way
`TextSink.writeGoldenFile` writes them: one `key value` line per key,
keys in byte order, each line ending in a newline.
"""
import statistics
from collections import Counter
from pathlib import Path

import numpy as np

LETTERS = b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
DIGITS = b"0123456789"
PUNCT = b".,;:!?'\"()-[]{}/#@&*+=<>_%$"
SEPARATORS = [b" ", b"\n", b"\t", b"  ", b" \r\n"]
SEPARATOR_WEIGHTS = [0.84, 0.1, 0.03, 0.02, 0.01]
INT32_MAX = 2**31 - 1
KEY_CAPACITY = 7  # the reference reduce keeps 7 chars of a key


def _vocabulary(rng, size):
    words = []
    for _ in range(size):
        n = int(rng.integers(1, 13))
        kind = rng.random()
        if kind < 0.8:
            pool = LETTERS
        elif kind < 0.9:
            pool = LETTERS + DIGITS
        elif kind < 0.97:
            pool = DIGITS
        else:
            pool = PUNCT
        words.append(bytes(pool[i] for i in rng.integers(0, len(pool), n)))
    return words


def file_sizes(rng, files, total_bytes, sigma=0.8):
    """Log-normal sizes scaled to about `total_bytes`: the distribution's
    quantiles at (i + 0.5) / files, dealt to the files in a seeded order.
    Every seed gets the same size profile (largest file about 7x the
    median), so seeds change the text and not the task skew."""
    q = (np.arange(files) + 0.5) / files
    z = np.array([statistics.NormalDist().inv_cdf(x) for x in q])
    raw = np.exp(sigma * z)
    return rng.permutation(np.maximum(64, (raw / raw.sum() * total_bytes).astype(np.int64)))


def generate(seed, files, total_bytes, vocabulary=20000):
    """Returns the corpus as a list of file contents (bytes), one per file."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, vocabulary), dtype=object)
    weights = 1.0 / np.arange(1, vocabulary + 1) ** 1.05
    weights /= weights.sum()
    seps = np.array(SEPARATORS, dtype=object)
    mean_token = float(sum(len(w) * p for w, p in zip(vocab, weights))) + 1.2
    docs = []
    for size in file_sizes(rng, files, total_bytes):
        n = int(size / mean_token) + 1
        tokens = vocab[rng.choice(vocabulary, n, p=weights)]
        gaps = seps[rng.choice(len(SEPARATORS), n, p=SEPARATOR_WEIGHTS)]
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = tokens
        parts[1::2] = gaps
        docs.append(b"".join(parts))
    return docs


def write(docs, directory):
    directory = Path(directory)
    directory.mkdir(parents=True, exist_ok=True)
    for i, doc in enumerate(docs):
        (directory / f"{i}.txt").write_bytes(doc)


def _render(pairs):
    return b"".join(b"%s %d\n" % (k, v) for k, v in sorted(pairs))


def expected_outputs(docs):
    """Expected `TextSink` file contents per operation, computed from bytes."""
    counts = np.zeros(256, dtype=np.int64)
    len_mod = 0
    words = Counter()
    for doc in docs:
        counts += np.bincount(np.frombuffer(doc, dtype=np.uint8), minlength=256)
        len_mod += len(doc) % 49
        words.update(doc.split())
    letters = int(sum(counts[c] for c in LETTERS))
    numbers = int(sum(counts[c] for c in DIGITS))
    others = int(counts.sum()) - letters - numbers
    char_classes = [(b"letters", letters), (b"numbers", numbers), (b"others", others)]
    histogram = [(bytes([c]), int(counts[c] + counts[c - 32])) for c in range(ord("a"), ord("z") + 1)]
    keywords = [(k, len_mod) for k in (b"we", b"love", b"cs", b"3210")]
    # The generic path sums in int32 and truncates keys; the corpus is sized
    # so no sum wraps, which makes it agree with the long-valued native path.
    assert max(v for _, v in char_classes) <= INT32_MAX
    generic = Counter()
    for k, v in char_classes:
        generic[k[:KEY_CAPACITY]] += v
    return {
        "task1": _render(char_classes),
        "task2": _render(histogram),
        "task3": _render(keywords),
        "wordcount": _render(words.items()),
        "generic_map1": _render(generic.items()),
    }
