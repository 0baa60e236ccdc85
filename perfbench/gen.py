"""Seeded input generator for the benchmark's `maplejuice` workload.

`corpus` writes the MapleJuice inputs: word-count text lines and
`source,target` link lines, in the reference generators' formats
(FIXTURES.md A1/A2) but with a 50k-word vocabulary. It is a pure function
of its arguments: the same seed gives byte-identical files.
"""
import hashlib
import os

import numpy as np


def corpus(out_dir, seed, text_mb, link_mb, vocab=50_000, links=100_000):
    """Write `text.txt` (9-word lines, Zipf-skewed over `vocab` words) and
    `links.txt` (`source,target` lines, Gaussian-skewed targets over `links`
    ids), about `text_mb` and `link_mb` MB. Returns their sha256 digest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    lens = rng.integers(3, 10, vocab)
    words = np.array([letters[rng.integers(0, 26, n)].tobytes() for n in lens])
    digest = hashlib.sha256()

    def emit(path, target_bytes, make_chunk):
        with open(path, "wb") as f:
            written = 0
            while written < target_bytes:
                data = make_chunk()
                f.write(data)
                digest.update(data)
                written += len(data)

    def text_chunk(lines=20_000):
        idx = np.minimum(rng.zipf(1.2, lines * 9) - 1, vocab - 1)
        w = words[idx].reshape(lines, 9)
        return b"".join(b" ".join(row) + b"\n" for row in w)

    alnum = np.frombuffer(
        b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789", np.uint8)

    def link_chunk(lines=20_000):
        src = alnum[rng.integers(0, 62, (lines, 10))]
        tgt = np.minimum(np.abs(rng.normal(0, links / 3, lines)).astype(np.int64),
                         links - 1) + 100_000
        return b"".join(s.tobytes() + b"," + str(t).encode() + b"\n"
                        for s, t in zip(src, tgt))

    emit(os.path.join(out_dir, "text.txt"), int(text_mb * 1e6), text_chunk)
    emit(os.path.join(out_dir, "links.txt"), int(link_mb * 1e6), link_chunk)
    return digest.hexdigest()
