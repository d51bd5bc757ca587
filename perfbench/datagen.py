"""Seeded text corpus for the WordCount CLI workload.

``make_corpus`` draws a multi-file corpus from the benchmark seed and
records the exact expected CLI output (``word<TAB>count`` lines, UTF-8
byte order) while it generates. It is pure NumPy and cached on disk,
keyed by seed, size and file count, and written through a temporary
directory that is renamed into place, so an interrupted run never leaves
a half-written cache entry behind.

The query mixes need no generator: they read the parquet tables under
``data/`` (see README.md).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

CORPUS_VERSION = 1
CORPORA_KEPT = 4  # older cached corpora are deleted
HEAD_WORDS = 50_000  # distinct words in the Zipf head
TAIL_FRAC = 0.03  # share of tokens that are one-off tail tokens

# Tokenizer edge cases from the golden corpus (FIXTURES.md, F1): tokens
# with punctuation, mixed case, a tab inside, multi-byte UTF-8.
_EDGE_TOKENS = [
    "Punct,", "kept!", "(yes)", "Case", "CASE", "case", "tab\tinside",
    "héllo", "世界", "naïve", "Ωmega", "end.", "x\ty\tz",
]


def _publish(tmp: str, final: str) -> None:
    """Rename a finished temp dir into place; a concurrent writer that
    won the race leaves its (identical) copy and ours is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise


def _corpus_vocab(rng, size):
    """Distinct lowercase words, 2-9 letters (the Zipf head's alphabet)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: set[str] = set()
    while len(words) < size:
        lens = rng.integers(2, 10, size)
        codes = rng.choice(letters, (size, 9))
        for row, k in zip(codes, lens):
            words.add(row[:k].tobytes().decode())
            if len(words) == size:
                break
    return sorted(words)


def make_corpus(cache_dir: str, seed: int, mb: float, files: int) -> dict:
    """Seeded text corpus for ``cli.run`` (cached by seed and size).

    Tokens are Zipf(1.1) draws over ``HEAD_WORDS`` words, plus a long
    tail (``TAIL_FRAC`` of tokens) of distinct one-off tokens, plus the
    golden-corpus edge tokens. Separators are single spaces with runs of
    spaces, leading/trailing spaces and empty lines mixed in. Returns a
    manifest: ``files`` (paths), ``expected`` (path of the exact
    expected output), ``bytes``, ``tokens`` and ``distinct``.
    """
    key = f"corpus_v{CORPUS_VERSION}_s{seed}_mb{mb:g}_f{files}"
    final = os.path.join(cache_dir, key)
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.isfile(manifest_path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp)
        manifest = _write_corpus(tmp, seed, mb, files)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        _publish(tmp, final)
        _prune_corpora(cache_dir)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    manifest["files"] = [os.path.join(final, f) for f in manifest["files"]]
    manifest["expected"] = os.path.join(final, manifest["expected"])
    return manifest


def _prune_corpora(cache_dir: str) -> None:
    """Keep the ``CORPORA_KEPT`` most recently built corpora."""
    dirs = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if d.startswith("corpus_") and ".tmp" not in d
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CORPORA_KEPT:]:
        shutil.rmtree(d, ignore_errors=True)


def _write_corpus(out, seed, mb, files):
    rng = np.random.default_rng(seed)
    vocab = _corpus_vocab(rng, HEAD_WORDS) + _EDGE_TOKENS
    n_head = len(vocab)
    # ~6.5 bytes per token on average (mean word length + separator).
    n_tokens = int(mb * 1e6 / 6.5)
    ranks = np.arange(1, n_head + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -1.1)
    cdf /= cdf[-1]
    order = rng.permutation(n_head)  # which word gets which Zipf rank
    ids = order[np.searchsorted(cdf, rng.random(n_tokens))]
    is_tail = rng.random(n_tokens) < TAIL_FRAC
    n_tail = int(is_tail.sum())
    tail_words = [f"t{seed}_{i:x}" for i in range(n_tail)]

    tokens = np.array(vocab, dtype=object)[ids]
    tokens[is_tail] = np.array(tail_words, dtype=object)
    counts = np.bincount(ids[~is_tail], minlength=n_head)

    # Lines of 1-24 tokens; separators are mostly one space.
    line_len = rng.integers(1, 25, n_tokens // 8 + 2)
    bounds = np.cumsum(line_len)
    bounds = bounds[bounds < n_tokens]
    lines = np.split(tokens, bounds)
    seps = np.array([" ", " ", " ", " ", " ", " ", "  ", "   "])
    out_lines: list[str] = []
    for i, toks in enumerate(lines):
        if i % 7 == 0:
            out_lines.append("")  # empty line
        sep = seps[i % len(seps)]
        line = sep.join(toks)
        if i % 11 == 0:
            line = " " + line + " "
        out_lines.append(line)

    per_file = -(-len(out_lines) // files)
    names = []
    total_bytes = 0
    for f in range(files):
        name = f"part-{f:03d}.txt"
        data = ("\n".join(out_lines[f * per_file:(f + 1) * per_file]) + "\n").encode()
        with open(os.path.join(out, name), "wb") as fh:
            fh.write(data)
        names.append(name)
        total_bytes += len(data)

    expected = {vocab[i]: int(c) for i, c in enumerate(counts) if c}
    expected.update((w, 1) for w in tail_words)
    with open(os.path.join(out, "expected.tsv"), "wb") as fh:
        for w in sorted(expected, key=lambda s: s.encode()):
            fh.write(f"{w}\t{expected[w]}\n".encode())
    return {
        "files": names,
        "expected": "expected.tsv",
        "bytes": total_bytes,
        "tokens": n_tokens,
        "distinct": len(expected),
    }
