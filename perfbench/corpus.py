"""Seeded text corpus for the flagship workload.

The reference's flagship job reads a directory tree of UTF-8 ``.txt``
files. This module writes one from a seed:

- a Zipf-ranked vocabulary mixing Latin words (emitted lower-case,
  Capitalised or UPPER-case, so normalisation has work to do) and Arabic
  words carrying the eight diacritics the flagship strips;
- tokens separated by mixed whitespace runs (spaces, tabs, ``\\n``,
  ``\\r\\n``), and some files starting or ending with whitespace so the
  empty edge tokens of ``re.split`` appear;
- a long tail of file sizes (Pareto), so a few files are many times the
  median, spread over a nested directory tree.

The seed draws the letters, the tokens, the separators and where each
file goes. It does not change the amount of work: each vocabulary rank
has a fixed script, length and diacritic count, and the file sizes are
fixed Pareto quantiles, so every seed gives about the same bytes, tokens
and size skew. The same seed gives a byte-identical tree; only NumPy's
seeded PCG64 generator is used.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

LATIN = "abcdefghijklmnopqrstuvwxyz"
ARABIC = "ابتثجحخدذرزسشصضطظعغفقكلمنهويءآأإئؤى"
# the eight diacritics of functions.text.ARABIC_DIACRITICS
DIACRITICS = "ًٌٍَُِّْ"

SEPARATORS = np.array([" ", "  ", "\t", "\n", "\r\n", " \t ", "\n\n", "   "], dtype=object)
SEPARATOR_P = np.array([0.70, 0.08, 0.04, 0.08, 0.03, 0.02, 0.03, 0.02])

VOCAB_SIZE = 20_000
BYTES_PER_TOKEN = 7.97  # mean bytes of word + separator, to size files


def _word(rng: np.random.Generator, rank: int) -> str:
    """A word whose script, length and diacritic count depend only on its
    rank: three ranks in ten are Arabic, lengths cycle through 3..8."""
    n = 3 + (rank * 7) % 6
    if rank % 10 not in (2, 5, 8):
        return "".join(LATIN[i] for i in rng.integers(0, len(LATIN), n))
    chars = [ARABIC[i] for i in rng.integers(0, len(ARABIC), n)]
    for pos in rng.choice(n, rank % 3, replace=False):
        chars[pos] += DIACRITICS[rng.integers(0, len(DIACRITICS))]
    return "".join(chars)


def vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> np.ndarray:
    """(3, size) object array: lower, Capitalised and UPPER forms of each
    word, in Zipf rank order (Arabic words have one form in all rows)."""
    words = [_word(rng, r) for r in range(size)]
    return np.array(
        [words, [w.capitalize() for w in words], [w.upper() for w in words]],
        dtype=object,
    )


def file_sizes(n_files: int, total_bytes: int) -> np.ndarray:
    """Long-tailed target sizes in bytes summing to about total_bytes: the
    Pareto(1.1) quantiles at (i + 0.5) / n_files, so that no draw decides
    how big the largest file is; none takes more than a tenth."""
    q = (np.arange(n_files) + 0.5) / n_files
    raw = (1.0 - q) ** (-1.0 / 1.1)
    raw = np.minimum(raw, raw.sum() * 0.1)
    return np.maximum(64, raw / raw.sum() * total_bytes).astype(np.int64)


def file_text(rng: np.random.Generator, vocab: np.ndarray, n_bytes: int) -> str:
    n = max(1, int(n_bytes / BYTES_PER_TOKEN))
    ranks = (rng.zipf(1.25, n) - 1) % vocab.shape[1]
    form = rng.choice(3, n, p=[0.85, 0.12, 0.03])
    seps = SEPARATORS[rng.choice(len(SEPARATORS), n, p=SEPARATOR_P)]
    parts = np.empty(2 * n, dtype=object)
    parts[0::2] = vocab[form, ranks]
    parts[1::2] = seps
    if rng.random() >= 0.3:  # most files end on a word, not whitespace
        parts = parts[:-1]
    lead = SEPARATORS[rng.integers(0, len(SEPARATORS))] if rng.random() < 0.2 else ""
    return lead + "".join(parts.tolist())


def generate(out_dir: Path, seed: int, total_mb: float = 4.0, n_files: int = 160) -> dict:
    """Write the corpus under out_dir (which must not exist yet) and
    return ``{"files": n, "bytes": total}``."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    sizes = rng.permutation(file_sizes(n_files, int(total_mb * 1e6)))
    total = 0
    for i, size in enumerate(sizes):
        a, b, c = rng.integers(0, 4, 3)
        path = out_dir / f"shelf{a}" / f"row{b}" / f"box{c}" / f"doc_{i:04d}.txt"
        path.parent.mkdir(parents=True, exist_ok=True)
        data = file_text(rng, vocab, int(size)).encode("utf-8")
        path.write_bytes(data)
        total += len(data)
    return {"files": len(sizes), "bytes": total}


def read_tree(root: Path) -> list[tuple[str, str]]:
    """(file URI as Spark's input_file_name renders it, text) for every
    ``.txt`` file under root, in path order."""
    return [
        (p.resolve().as_uri(), p.read_bytes().decode("utf-8"))
        for p in sorted(Path(root).rglob("*.txt"))
    ]
