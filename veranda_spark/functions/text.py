"""Text-analysis column builders for document pipelines.

Training-data operators over a `documents(doc_id, text, lang, source,
n_chars)` table: token counting, language-ID heuristic, quality scoring,
fingerprinting, shingling and sketch primitives (MinHash/SimHash).

Everything that can be a JVM-side Column expression is one (oracle-
reproducible in ANSI SQL); only the sketches use pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# a compact multi-language stopword table for the n-gram language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que"],
    "es": ["el", "la", "los", "que", "de", "no", "es", "por", "una", "para"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex split)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: GPT-2-style pre-tokenizer pattern (simplified to the ASCII subset both
#: Java regex and DuckDB's RE2 agree on): contractions, letter runs,
#: digit runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"('s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+)"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization (the merge step of real BPE needs a vocab;
    the pre-tokenizer split is what token-count estimation uses)."""
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Distinct stopwords of ``lang`` present in the text (set semantics —
    identical in Spark array_intersect and DuckDB list_intersect)."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(tokens(F.lower(text)), words))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: the language with the most stopword hits
    (ties broken by fixed language order en>de>fr>es; 'und' = unknown)."""
    scores = [(lang, stopword_hits(text, lang)) for lang in STOPWORDS]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for lang, score in reversed(list(scores)):
        out = F.when(score == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score <= 0, F.lit("und")).otherwise(out)


def normalize_text(text: Column) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip non-alnum,
    squeeze whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint = md5 of the normalized text (md5 is
    bit-identical across Spark and DuckDB, so dedup is oracle-checkable)."""
    return F.md5(normalize_text(text))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Array of word n-gram strings (shingles) — built-in array ops only,
    built as ``zip_with`` over shifted copies of the token array.

    Why this exact shape (round-2 scale findings):

    - the original ``transform(idx, i -> concat_ws(slice(toks, i+1, n)))``
      re-evaluated ``toks`` — the whole normalize+split regex chain — for
      EVERY element (Catalyst does not CSE subexpressions inside lambda
      bodies) and copied O(n) tokens per index: 200 web-page-length docs
      took 125 s.  zip_with's operands are evaluated once per row, its
      lambdas touch only bound variables, and it is O(tokens) total
      (5000 such docs now take ~7 s).
    - lambdas here are single-level with no outer-scope references:
      nested lambdas that close over an enclosing lambda's variable hit
      'Cannot generate code' in Spark's cache serializer when the column
      later feeds a pandas UDF on a cached frame.
    """
    toks = tokens(normalize_text(text))
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        # zip_with pads to the LONGER array with nulls; trailing partial
        # grams are cut by the final slice below
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(grams, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(full)


# ---- sketches (JVM-side hashing + numpy reduction UDFs) --------------------
#
# The per-shingle 64-bit hash — the hot loop of a pretraining dedup run —
# is computed JVM-side with xxhash64 inside whole-stage codegen
# (shingle_hashes below); the pandas UDFs only do the whole-array numpy
# min/vote reduction over the pre-hashed int64 arrays.  Round 1 hashed in
# a per-byte Python loop (~1 MB/s/core); this is the ≥10× fix.

MINHASH_PERMS = 64
_MERSENNE = (1 << 61) - 1


def shingle_hashes(shingles: Column) -> Column:
    """64-bit hash per shingle, JVM-side (one xxhash64 per array element,
    no Python in the loop)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _perm_params(n_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, n_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, n_perm, dtype=np.int64).astype(np.uint64)
    return a, b


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_signature(hashes: pd.Series) -> pd.Series:
    """MinHash signature (64 perms) over a pre-hashed shingle column
    (``shingle_hashes`` output: array<bigint>).  sig_j = min_i(a_j*h_i+b_j
    mod p) — one vectorized outer product per doc, no per-token Python."""
    a, b = _perm_params(MINHASH_PERMS)
    out = []
    for hv in hashes:
        if hv is None or len(hv) == 0:
            out.append([0] * MINHASH_PERMS)
            continue
        hu = np.asarray(hv, dtype=np.int64).astype(np.uint64) % np.uint64(_MERSENNE)
        m = (np.outer(a, hu) + b[:, None]) % np.uint64(_MERSENNE)
        out.append(m.min(axis=1).astype(np.int64).tolist())
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def simhash64(hashes: pd.Series) -> pd.Series:
    """64-bit SimHash over a pre-hashed shingle column (``shingle_hashes``
    output).  Bit votes and packing are whole-array numpy."""
    out = np.zeros(len(hashes), dtype=np.int64)
    bits = np.arange(64, dtype=np.uint64)
    for i, hv in enumerate(hashes):
        if hv is None or len(hv) == 0:
            continue
        hu = np.asarray(hv, dtype=np.int64).astype(np.uint64)
        votes = np.where(((hu[:, None] >> bits) & np.uint64(1)).astype(bool), 1, -1).sum(axis=0)
        val = ((votes > 0).astype(np.uint64) << bits).sum(dtype=np.uint64)
        out[i] = val.astype(np.int64)
    return pd.Series(out)


def hamming64(a: Column, b: Column) -> Column:
    """Bit count of XOR — SimHash distance (bit_count is built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_RE = r"https?://[^\s]+"


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_urls) per document — the standard pretraining PII /
    boilerplate scan, as JVM regexp_extract_all counts (both patterns
    behave identically in Spark's Java regex and DuckDB's RE2, so the
    scan is oracle-checkable)."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))),
        F.size(F.regexp_extract_all(text, F.lit(URL_RE), F.lit(0))),
    )


def redact_pii(text: Column) -> Column:
    """Replace emails/URLs with placeholder tokens (the filter side of
    the scan)."""
    t = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, URL_RE, "<URL>")
