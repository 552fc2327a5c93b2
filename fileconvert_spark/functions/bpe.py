"""Byte-pair-encoding tokenizer, from scratch (pure Python, no deps).

The classic BPE algorithm (Sennrich et al., ACL 2016, as popularized by
GPT-2's tokenizer): pre-tokenize text into words with the same regex the
engine's `token_count_bpe` splitter uses, represent each word as a
character sequence, then repeatedly merge the most frequent adjacent
symbol pair into a new vocabulary symbol. Tokenization applies the
learned merges to a word in rank order (lowest-rank merge first), exactly
like GPT-2's `bpe()` loop.

Determinism: merge ties break on (count, lexicographic pair), training
samples are byte-bounded prefixes, and no randomness is involved — the
same corpus sample always yields the same vocab, so Spark-side token
counts are reproducible across workers and runs.

Scale shape: training is a bounded driver-side pass over a sample (the
merge table is a few KB); tokenization ships the merge table to workers
via closure/broadcast and runs inside a pandas UDF with a per-unique-word
cache — natural text is Zipf-distributed, so the cache turns the
per-word merge loop into a dict hit for the overwhelming majority of
tokens.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from ..plans import fsio
from .text import BPE_TOKEN_RE

_PRE_RE = re.compile(BPE_TOKEN_RE)


def pre_tokenize(text: str) -> list[str]:
    """The regex pre-tokenizer: words / numbers / single symbols."""
    return _PRE_RE.findall(text or "")


def train_bpe(texts: list[str], n_merges: int = 200,
              sample_bytes: int = 1 << 20) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a byte-bounded corpus sample.

    Returns the ordered merge list [(left, right), ...]; rank = index.
    """
    words: Counter[tuple[str, ...]] = Counter()
    seen = 0
    for t in texts:
        if not t:
            continue
        if seen >= sample_bytes:
            break
        t = t[: max(sample_bytes - seen, 0)]
        seen += len(t)
        for w in pre_tokenize(t):
            words[tuple(w)] += 1

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, cnt in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        # deterministic: highest count, then lexicographically smallest
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break  # nothing left worth merging
        merges.append(best)
        a, b = best
        ab = a + b
        new_words: Counter[tuple[str, ...]] = Counter()
        for sym, cnt in words.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words[tuple(out)] += cnt
        words = new_words
    return merges


class BPETokenizer:
    """Applies a learned merge list; counts and tokenizes words."""

    def __init__(self, merges: list[tuple[str, str]]):
        self.ranks = {tuple(p): r for r, p in enumerate(merges)}
        self._cache: dict[str, int] = {}

    def word_pieces(self, word: str) -> list[str]:
        parts = list(word)
        ranks = self.ranks
        while len(parts) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(parts) - 1):
                r = ranks.get((parts[i], parts[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        return parts

    def count_word(self, word: str) -> int:
        n = self._cache.get(word)
        if n is None:
            n = len(self.word_pieces(word))
            self._cache[word] = n
        return n

    def count(self, text: str) -> int:
        return sum(self.count_word(w) for w in pre_tokenize(text))

    def tokenize(self, text: str) -> list[str]:
        out: list[str] = []
        for w in pre_tokenize(text):
            out.extend(self.word_pieces(w))
        return out


def serialize_merges(merges: list[tuple[str, str]]) -> str:
    """'a b\\n...' text form (the format GPT-2's merges.txt uses)."""
    return "\n".join(f"{a} {b}" for a, b in merges)


def deserialize_merges(blob: str) -> list[tuple[str, str]]:
    out = []
    for line in blob.splitlines():
        if line:
            a, _, b = line.partition(" ")
            out.append((a, b))
    return out


BPE_VOCAB_FILE = "_bpe_merges.txt"


def train_and_store_bpe(df, out_dir: str, text_col: str) -> str:
    """Train a 128-merge BPE vocab ONCE and store it as table metadata
    (``BPE_VOCAB_FILE`` alongside ``_meta.json``, GPT-2 merges.txt
    format) — token counting over an encoded table then loads the stored
    vocab instead of retraining per query.

    Idempotent: an existing vocab file is kept (resume semantics — the
    vocab is part of the table's identity like ``n_buckets``). The
    training sample is the 200 rows with the smallest xxhash64(text)
    (ties broken on the text itself): a TakeOrderedAndProject over a
    single-column projection, deterministic and independent of the
    input's partitioning/order, same device as the IVF quantizer sample.
    Training itself is bounded driver-side work (train_bpe caps the bytes
    it consumes); the merge table is a few KB.
    """
    from pyspark.sql import functions as F

    path = os.path.join(out_dir, BPE_VOCAB_FILE)
    if fsio.exists(path):
        return path
    fsio.makedirs(out_dir)
    sample = [
        r[0]
        for r in df.select(F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .orderBy(F.xxhash64("t"), "t")
        .limit(200)
        .collect()
    ]
    merges = train_bpe(sample, n_merges=128)
    fsio.write_bytes_atomic(path, serialize_merges(merges).encode())
    return path


def load_bpe_vocab(out_dir: str) -> list[tuple[str, str]]:
    """Load the stored merge list of an encoded table; raises
    FileNotFoundError when no vocab was stored there."""
    path = os.path.join(out_dir, BPE_VOCAB_FILE)
    if not fsio.exists(path):
        raise FileNotFoundError(
            f"no {BPE_VOCAB_FILE} in {out_dir}; call "
            "train_and_store_bpe(df, out_dir, text_col) first")
    return deserialize_merges(fsio.read_bytes(path).decode())
