"""Semantic chunking kernel (pure Python + numpy, document-local).

Replays the reference's chunking math —
/root/reference/ontocast/tool/chunk/util.py:116-300 (sentence split,
±buffer combine, consecutive cosine distances, percentile breakpoints,
min-size merge) and /root/reference/ontocast/tool/chunk/chunker.py:38-71
(markdown-aware split regex, recursive re-chunk over max size) — with
one substitution: the HuggingFace sentence-transformer embedding is
replaced by a deterministic hashed bag-of-tokens embedding
(:func:`hash_embed`). The reference's embedding is model-deterministic
but needs a model download; ours is seed-free, dependency-free, and
stable across processes, which the resume/checkpoint contract requires.

The whole kernel is document-local (no cross-row state), so in Spark it
runs inside the fused ``mapInArrow`` task (``kernels/construct.py``) —
Arrow batches of turns in, batches of KG rows out, no per-row Python
round trips.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

# ChunkerTool defaults (/root/reference/ontocast/tool/chunk/chunker.py:18-24)
BUFFER_SIZE = 5
BREAKPOINT_PERCENTILE = 95.0
MIN_CHUNK_SIZE = 2000
MAX_CHUNK_SIZE = 20000

# Markdown-aware sentence split (chunker.py:47-48). The leading
# ``(?=[\s#])`` only fails fast: every alternative needs a newline, a
# whitespace or a ``#`` where it matches, so the matches are unchanged and
# positions that cannot match skip the lookbehind alternatives.
SENTENCE_SPLIT_RE = re.compile(
    r"(?=[\s#])(?:(?:\n{2,}(?=#+))|(?:\n{2,}(?=- ))"
    r"|(?<=[a-z][.?!])\s+(?=\b[A-Z]\w{8,}\b)|(?<!#)(?=#+))"
)

EMBED_DIM = 64
_TOKEN_RE = re.compile(r"[A-Za-z0-9]+")

# token -> bucket memo; vocabulary is tiny relative to token volume, so
# this turns the per-token crc32+encode into a dict hit. Bounded so a
# long-lived executor worker cannot grow it without limit.
_BUCKET_CACHE: dict[str, int] = {}
_BUCKET_CACHE_MAX = 1 << 16


def hash_embed(text: str) -> np.ndarray:
    """Deterministic bag-of-hashed-tokens embedding (crc32 buckets)."""
    vec = np.zeros(EMBED_DIM, dtype=np.float64)
    cache = _BUCKET_CACHE
    get = cache.get
    for tok in _TOKEN_RE.findall(text.lower()):
        b = get(tok)
        if b is None:
            b = zlib.crc32(tok.encode()) % EMBED_DIM
            if len(cache) < _BUCKET_CACHE_MAX:
                cache[tok] = b
        vec[b] += 1.0
    if not vec.any():
        vec[:] = 1.0
    return vec


def _combine_sentences(sentences: list[str], buffer_size: int) -> list[str]:
    """±buffer sliding-window join (chunk/util.py:262-300). Note the
    reference joins *preceding* sentences without a separator and
    *following* ones with a single space — ported as-is."""
    combined = []
    n = len(sentences)
    for i in range(n):
        parts = []
        for j in range(max(0, i - buffer_size), i):
            parts.append(sentences[j])
        acc = "".join(parts) + sentences[i]
        for j in range(i + 1, min(n, i + 1 + buffer_size)):
            acc += " " + sentences[j]
        combined.append(acc)
    return combined


# The hashed-BoT embedding is a bag of token counts, so the embedding of
# a ±buffer window is the SUM of its sentences' embeddings — except when
# the separator-free concatenation of two adjacent sentences fuses the
# boundary tokens into one ([A-Za-z0-9]+ runs merge iff the left sentence
# ends and the right begins with an ASCII-alnum char; real sentences end
# with punctuation, so this is rare). _hash_embed_windows tokenizes each
# sentence ONCE, takes window sums via prefix sums, and falls back to the
# exact string build only for windows whose no-separator region contains
# a fusing boundary — bit-identical to hash_embed over
# _combine_sentences (integer counts in float64: all sums exact), ~10x
# less tokenization work (optimization round 6, guide §4.2).
_ALNUM = frozenset("abcdefghijklmnopqrstuvwxyz0123456789")


def _combine_one(sentences: list[str], i: int, buffer_size: int) -> str:
    """The i-th combined window, exactly as _combine_sentences builds it."""
    acc = "".join(sentences[max(0, i - buffer_size):i]) + sentences[i]
    for j in range(i + 1, min(len(sentences), i + 1 + buffer_size)):
        acc += " " + sentences[j]
    return acc


def _hash_embed_windows(sentences: list[str], buffer_size: int) -> np.ndarray:
    """hash_embed over every ±buffer combined window, vectorized."""
    n = len(sentences)
    lows = [s.lower() for s in sentences]
    cache = _BUCKET_CACHE
    get = cache.get
    svecs = np.zeros((n, EMBED_DIM), dtype=np.float64)
    for j, low in enumerate(lows):
        vec = svecs[j]
        for tok in _TOKEN_RE.findall(low):
            b = get(tok)
            if b is None:
                b = zlib.crc32(tok.encode()) % EMBED_DIM
                if len(cache) < _BUCKET_CACHE_MAX:
                    cache[tok] = b
            vec[b] += 1.0
    prefix = np.zeros((n + 1, EMBED_DIM), dtype=np.float64)
    np.cumsum(svecs, axis=0, out=prefix[1:])
    # fuse_before[k] = number of fusing boundaries (j, j+1) with j < k
    fuse_before = np.zeros(n, dtype=np.int32)
    for j in range(n - 1):
        fuse_before[j + 1] = fuse_before[j] + (
            lows[j][-1] in _ALNUM and lows[j + 1][0] in _ALNUM
        )
    out = np.empty((n, EMBED_DIM), dtype=np.float64)
    for i in range(n):
        lo = max(0, i - buffer_size)
        if fuse_before[i] - fuse_before[lo]:
            # a boundary inside the separator-free region fuses tokens:
            # build this one window exactly
            out[i] = hash_embed(_combine_one(sentences, i, buffer_size))
        else:
            v = prefix[min(n, i + 1 + buffer_size)] - prefix[lo]
            if not v.any():
                v = np.ones(EMBED_DIM, dtype=np.float64)
            out[i] = v
    return out


def _cosine_distances(embeddings: np.ndarray) -> np.ndarray:
    """1 - cosine similarity between consecutive rows
    (chunk/util.py:230-259)."""
    a = embeddings[:-1]
    b = embeddings[1:]
    num = (a * b).sum(axis=1)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    den = np.where(den == 0.0, 1.0, den)
    return 1.0 - num / den


def split_text(text: str) -> list[str]:
    """One semantic-split pass (chunk/util.py:133-196)."""
    sentences = [s.strip() for s in SENTENCE_SPLIT_RE.split(text)]
    sentences = [s for s in sentences if s]
    if len(sentences) <= 1:
        return sentences
    distances = _cosine_distances(_hash_embed_windows(sentences, BUFFER_SIZE))
    threshold = np.percentile(distances, BREAKPOINT_PERCENTILE)
    indices_above = [i for i, d in enumerate(distances) if d > threshold]

    chunks: list[str] = []
    start_index = 0
    for index in indices_above:
        group = sentences[start_index : index + 1]
        combined_text = " ".join(group)
        # min-size merge: a too-small slice is NOT emitted and
        # start_index is NOT advanced, so it merges into the next slice
        # (chunk/util.py:181-186, ported bug-for-bug)
        if len(combined_text) < MIN_CHUNK_SIZE:
            continue
        chunks.append(combined_text)
        start_index = index + 1
    if start_index < len(sentences):
        chunks.append(" ".join(sentences[start_index:]))
    return chunks


def chunk_document(text: str) -> list[str]:
    """Full chunking: split + bounded recursive re-chunk of oversized
    pieces with trailing-minichunk merge (chunker.py:51-71). An
    empty/whitespace document yields no chunks (the reference routes
    such documents to NO_CHUNKS_TO_PROCESS, check_chunks.py)."""
    if not text or not text.strip():
        return []
    docs = [text]
    while True:
        if all(len(d) < MAX_CHUNK_SIZE for d in docs):
            return docs
        new_docs: list[str] = []
        for d in docs:
            if len(d) > MAX_CHUNK_SIZE:
                cdocs = split_text(d)
                if len(cdocs) > 1 and len(cdocs[-1]) < MIN_CHUNK_SIZE:
                    cdocs = cdocs[:-2] + [cdocs[-2] + cdocs[-1]]
                new_docs.extend(cdocs)
            else:
                new_docs.append(d)
        if len(docs) == len(new_docs):  # no progress -> stop (stop_flag)
            return new_docs
        docs = new_docs
