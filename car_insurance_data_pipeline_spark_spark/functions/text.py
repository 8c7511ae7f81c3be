"""Text-analysis functions for large-scale training-data pipelines.

North-star extensions (BASELINE.json): token counting, quality
scoring, language ID, fingerprinting, shingling. Everything here is
built-in Column expressions (JVM-side, codegen) — no Python UDFs — so
the hot path over a 100 TB documents table stays vectorized. The
MinHash and SimHash dedup stages live in ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/word heuristic
# language-ID. Intentionally small and public-knowledge (most-frequent
# function words per language).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "es": ["el", "la", "los", "las", "es", "en", "un", "una", "que", "por"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty-safe)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate subword token count: words + punctuation runs,
    long words counted as ceil(len/6) pieces — a BPE-ish regex
    heuristic useful for corpus token budgeting without a tokenizer
    library.
    """
    words = tokens(col)
    word_pieces = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(6.0)).cast("int"),
    )
    punct = F.length(F.regexp_replace(_c(col), "[^.,;:!?()\\[\\]{}\"']", ""))
    return (word_pieces + punct).cast("int")


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Character n-gram array (lowercased), via sequence+transform —
    no UDF, no explode needed at the call site. Strings shorter than
    ``n`` yield an empty array (a bare sequence(1, 0) would descend
    and emit phantom grams).

    PERFORMANCE (the q317 lesson, SCALE_CHECK.md): ``substring`` on
    a Spark STRING is O(position) — it rescans for multi-byte UTF-8
    chars — so this helper is QUADRATIC in string length. Fine for
    short keys (names, URLs); for document-scale text use BYTE
    n-grams instead: explode the index sequence and slice
    ``substring(encode(text, 'UTF-8'), i, n)`` (BINARY slicing is
    O(1)), as q317_nb_langid does.
    """
    s = F.lower(_c(col))
    length = F.length(s)
    idx = F.sequence(F.lit(1), length - F.lit(n - 1))
    return F.when(length < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.substring(s, i, n))
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-shingle array: join each k consecutive tokens with a
    single space. Basis for MinHash/Jaccard dedup.
    """
    ws = tokens(F.lower(_c(col)))
    n_sh = F.greatest(F.size(ws) - F.lit(k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), n_sh - F.lit(1))
    return F.when(n_sh <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, k), " "))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    c = _c(col)
    n = F.length(c)
    p = F.length(F.regexp_replace(c, "[^.,;:!?'\"()\\[\\]{}-]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Stopword tokens / total tokens (0 for empty)."""
    ws = tokens(F.lower(_c(col)))
    stop = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop, w)))
    n = F.size(ws)
    return F.when(n > 0, n_stop.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: length band + sane
    punctuation + stopword presence (an English-ish fluency proxy).
    Mirrors common LLM-corpus filters (C4-style) with pure Column ops.
    """
    c = _c(col)
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) < 0.3, F.lit(0.3)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(c) > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + stop_ok


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-word hit counts."""
    ws = tokens(F.lower(_c(col)))
    out = {}
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(w) for w in markers])
        out[lang] = F.size(F.filter(ws, lambda w: F.array_contains(marker_arr, w)))
    return out


def lang_id(col: Column | str) -> Column:
    """Most-likely language by marker-word counts; 'und' when no
    markers hit. Deterministic tie-break by language code order.
    """
    scores = lang_scores(col)
    langs = sorted(scores)  # deterministic tie-break: alphabetical
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # alphabetical iteration + strict > : the first language to reach
    # the max keeps it, so ties resolve to the earliest code
    for lang in langs:
        s = scores[lang]
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of lowercased,
    whitespace-collapsed, punctuation-stripped text. Identical across
    engines (md5 is standard), so exact-dedup keys are portable.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(_c(col)), "[^a-z0-9\\s]", ""), "\\s+", " "
        )
    )
    return F.md5(norm)


# PII patterns shared by detection and masking — restricted to the
# Java∩RE2 regex dialect (no lookaround/backrefs, greedy quantifiers
# over disjoint classes) so DuckDB oracles can mirror them exactly.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE_RE = r"\+\d{10,12}"


def pii_scrub(col: Column | str):
    """(counts, masked) PII columns: detect emails / IPv4s /
    E.164-ish phone numbers and mask them with typed tags. Masking is
    sequential (email → ip → phone) and each count is taken on the
    text as it stands at that masking step, so every count equals the
    number of tags of that type actually present in the masked output
    — an IP embedded inside an email is consumed by the email mask
    and does NOT also count as an IP. Pure Column expressions — JVM
    regex, no UDF, fully codegen'd; a narrow map over the scan.
    """
    c = _c(col)
    n_emails = F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("int")
    after_email = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    n_ips = F.regexp_count(after_email, F.lit(PII_IP_RE)).cast("int")
    after_ip = F.regexp_replace(after_email, PII_IP_RE, "[IP]")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE_RE)).cast("int")
    masked = F.regexp_replace(after_ip, PII_PHONE_RE, "[PHONE]")
    counts = {"n_emails": n_emails, "n_ips": n_ips, "n_phones": n_phones}
    return counts, masked
