"""Text-analysis expressions for large-scale training-data pipelines.

All JVM-side column expressions (no Python UDFs) so they survive 100 TB:
tokenization, shingling, n-gram extraction, heuristic quality scoring,
token counting, and rolling-hash document fingerprinting.  Each has an
exactly-equivalent ANSI-SQL formulation for oracle verification.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small language-agnostic stopword set used by the quality heuristic.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def tokens(text: Column | str) -> Column:
    """Lower-cased whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish proxy: words + punctuation runs are
    counted by the regex variant in plans/tierc)."""
    return F.size(tokens(text))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Array of k-word shingles ('w1 w2 w3') from an ALREADY-MATERIALIZED
    token-array column — MinHash/Jaccard unit.

    ``toks`` must be a plain attribute (produced by a prior ``select``),
    not an inline ``tokens(...)`` expression: a non-attribute expression
    referenced inside the ``transform`` lambda is re-evaluated per array
    element, turning shingling O(n²) per document.

    Documents shorter than k tokens yield a single shingle of all tokens,
    so no document hashes to an empty set.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))


def char_ngrams_from_lower(low: Column) -> Column:
    """Array of character 5-grams from an already-lower-cased attribute
    column (same per-element re-evaluation trap as shingles)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(low) - 4, F.lit(1)))
    return F.transform(idx, lambda i: F.substring(low, i, 5))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    stop = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.size(stop) / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: blend of length, mean word
    length sanity, and stopword presence (C4/Gopher-style rule scoring)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    mean_wlen = F.length(c) / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(c) > 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + wlen_ok + stop_ok) / F.lit(3.0), 4)


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB/engine oracles): literal classes only — no \d/\s
# shorthands (dialect-divergent), no backrefs (RE2 lacks them).
EMAIL_PATTERN = "[a-z0-9.]+@[a-z0-9]+[.][a-z]+"
PHONE_PATTERN = "555-[0-9][0-9][0-9][0-9]"


def email_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(EMAIL_PATTERN)).cast("int")


def phone_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PHONE_PATTERN)).cast("int")


def redact_pii(text: Column | str) -> Column:
    """Replace every email/phone match with a typed placeholder —
    the scrub step run before training-corpus admission."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"), PHONE_PATTERN, "<PHONE>"
    )


# Fixed lexicon weights for the linear quality classifier (fastText/CCNet
# style model-based filtering with a hand-set weight vector).  Order
# matters: the logit sums terms in this exact written order so the IEEE
# float result is bit-identical across engines.
QUALITY_LEXICON = [("fast", 0.6), ("slow", -0.7), ("spark", 0.4),
                   ("data", 0.2), ("big", -0.1)]
QUALITY_BIAS = -0.4
QUALITY_W_STOP = 2.5
QUALITY_W_WLEN = 0.15


def quality_logit(toks: Column, text: Column | str) -> Column:
    """Linear classifier logit over engineered features: bias +
    w·stop_ratio + w·mean_word_len + lexicon_score/n_tok.

    ``toks`` must be an ALREADY-MATERIALIZED token-array attribute (the
    ``filter`` lambdas below would otherwise re-tokenize per element).
    All terms are plain float64 ``*``/``+``/``/`` in a fixed order —
    deterministic IEEE arithmetic, so any engine computing the same
    formula produces the same bits (no exp/sigmoid: libm-divergent;
    rank/threshold on the logit instead).
    """
    c = F.col(text) if isinstance(text, str) else text
    n_tok = F.size(toks)
    n_tok_g = F.greatest(n_tok, F.lit(1))
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tok_g
    mean_wlen = F.length(c) / n_tok_g
    def count_of(word: str) -> Column:
        # NB: a `lambda t, word=word:` default-arg closure would change the
        # HOF arity — F.filter treats 2-param lambdas as (element, index).
        return F.size(F.filter(toks, lambda t: t == word))

    lex = None
    for word, w in QUALITY_LEXICON:
        term = F.lit(w) * count_of(word)
        lex = term if lex is None else lex + term
    return (
        F.lit(QUALITY_BIAS)
        + F.lit(QUALITY_W_STOP) * stop_ratio
        + F.lit(QUALITY_W_WLEN) * mean_wlen
        + lex / n_tok_g
    )


def doc_fingerprint(text: Column | str) -> Column:
    """64-hex md5 fingerprint of whitespace-normalized lower-cased text —
    the exact-dedup key for documents."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(norm)
