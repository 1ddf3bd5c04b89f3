"""Text-analysis expression builders for training-data pipelines.

All pure JVM-side Column expressions (no Python UDFs): language-ID
heuristic, quality scoring, token counting, shingling, fingerprinting.
Designed to run inside whole-stage codegen over 100 TB of documents —
each is a narrow projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny English stopword list for the n-gram/stopword language heuristic
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are known stopwords — the core signal of
    the stopword-based language-ID heuristic."""
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    toks = tokens(text)
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return n_sw / F.greatest(F.size(toks), F.lit(1))


def lang_id(text: Column | str, threshold: float = 0.05) -> Column:
    """Predict 'en' when stopword density clears the threshold, else 'unk'.
    (A real deployment would add per-language char-n-gram profiles; the
    Spark shape — pure expression, no shuffle — is the point.)"""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(F.lit("unk"))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: length saturation x lexical
    diversity. Deterministic and SQL-expressible for oracle checking."""
    toks = tokens(text)
    n = F.size(toks)
    length_sat = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1)).cast("double")
    return F.round(length_sat * diversity, 4)


def shingles(toks: Column, k: int = 3) -> Column:
    """k-token shingles: ['a','b','c','d'], k=3 -> ['a b c', 'b c d'].
    Built with transform+slice so it stays a codegen'd expression."""
    n = F.size(toks)
    return F.when(n < k, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda j: F.array_join(F.slice(toks, j + 1, k), " "),
        )
    )


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token bag. Catches shuffled/reordered near-duplicates exactly."""
    return F.md5(F.array_join(F.sort_array(F.array_distinct(tokens(text))), " "))


#: the Gopher/MassiveText "stop word" presence list (Rae et al. 2021,
#: App. A.1.1): a document must contain at least 2 of these to pass
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(text: Column | str, min_stop_words: int = 2) -> dict[str, Column]:
    """The document-level Gopher/MassiveText quality-filter rules (Rae
    et al. 2021, Appendix A.1.1) as pure JVM Column expressions — the
    per-document keep/drop gate a curation pipeline runs before
    repetition filters. Returns named boolean rule columns plus n_words;
    `keep` is their conjunction.

    Every rule is a narrow projection (no shuffle, no UDF): word rules
    fold over the whitespace token array, line rules over the
    newline-split array, the symbol rule counts regexp matches."""
    c = F.col(text) if isinstance(text, str) else text
    tk = tokens(c)
    n = F.size(tk)
    nz = F.greatest(n, F.lit(1))
    mean_wl = F.aggregate(tk, F.lit(0), lambda a, w: a + F.length(w)) / nz
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), 0))
    lines = F.split(c, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    alpha = F.size(F.filter(tk, lambda w: w.rlike("[a-z]")))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(stops, lambda s: F.array_contains(tk, s)))
    rules = {
        "n_words": n.cast("long"),
        "r_word_count": (n >= 50) & (n <= 100_000),
        "r_mean_word_len": (mean_wl >= 3) & (mean_wl <= 10),
        "r_symbol_ratio": (symbols / nz) <= 0.1,
        "r_bullet_lines": (bullet / n_lines) <= 0.9,
        "r_ellipsis_lines": (ellipsis / n_lines) <= 0.3,
        "r_alpha_words": (alpha / nz) >= 0.8,
        "r_stopwords": stop_hits >= min_stop_words,
    }
    rules["keep"] = (
        rules["r_word_count"]
        & rules["r_mean_word_len"]
        & rules["r_symbol_ratio"]
        & rules["r_bullet_lines"]
        & rules["r_ellipsis_lines"]
        & rules["r_alpha_words"]
        & rules["r_stopwords"]
    )
    return rules


#: (pattern, replacement) in APPLICATION ORDER — email before the digit
#: rules so the local part's digits don't half-match, IP before phone so
#: dotted quads don't read as number runs. Patterns avoid lookarounds on
#: purpose: they behave identically under Java regex (Spark) and RE2
#: (DuckDB/production scrubbers), so a scrub decision is reproducible
#: across engines.
PII_RULES = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    (r"\b\d{9,}\b", "<NUM>"),
]


def scrub_pii(text: Column | str) -> Column:
    """Redact common PII shapes (emails, IPv4, NANP-style phone numbers,
    long digit runs) with typed placeholders — the pre-training scrub
    pass. A pure JVM regexp_replace chain: stays inside whole-stage
    codegen, no UDF, scan-predicate safe at 100 TB."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, rep in PII_RULES:
        c = F.regexp_replace(c, pat, rep)
    return c


def pii_counts(text: Column | str) -> Column:
    """Struct of per-category PII match counts (email/ip/phone/num) —
    the audit metric next to the scrub."""
    c = F.col(text) if isinstance(text, str) else text
    fields = []
    seen = c
    for (pat, rep), name in zip(PII_RULES, ["email", "ip", "phone", "num"]):
        fields.append(F.size(F.regexp_extract_all(seen, F.lit(pat), 0)).alias(name))
        seen = F.regexp_replace(seen, pat, rep)  # sequential, like the scrub
    return F.struct(*fields)
