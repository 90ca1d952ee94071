"""Text-analysis functions for training-data pipelines — Column exprs.

Language ID (stopword-hit heuristic), quality scoring, token counting,
and rolling-hash document fingerprinting. All expression-only so they
survive a 100 TB corpus: no Python in the row path, and every function
here is also expressible in ANSI SQL for the DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic. Deliberately small + deterministic so the oracle SQL can
# replicate them verbatim.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}

TOKEN_REGEX = r"[^\s]+"
# BPE-ish word/number/punctuation splitter (GPT-2-style coarse classes).
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it"]

FINGERPRINT_MOD = 1_000_003
FINGERPRINT_BASE = 31


def tokenize(text: Column) -> Column:
    """Whitespace tokens (non-empty)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count: 'whitespace' or 'bpe' (regex word/num/punct classes)."""
    if mode == "whitespace":
        return F.size(tokenize(text))
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), 0))


def _marker_hits(tokens: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(F.array_distinct(tokens), arr))


def detect_language(text: Column) -> Column:
    """Stopword-marker language ID: language with most distinct marker
    hits wins; ties broken by fixed language order; no hits ⇒ 'und'."""
    toks = F.transform(tokenize(F.lower(text)), lambda t: F.regexp_replace(t, r"[^a-z]", ""))
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in ["en", "de", "fr", "es"]:  # fixed priority order
        hits = _marker_hits(toks, LANG_MARKERS[lang])
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring feature dict: length, token stats, punctuation and
    stopword ratios, alpha ratio. Combine downstream into a score."""
    n_chars = F.length(text)
    toks = tokenize(text)
    n_toks = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]"), 0))
    lower_toks = F.transform(toks, F.lower)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(lower_toks, lambda t: F.array_contains(stop_arr, t)))
    safe_toks = F.greatest(n_toks, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "mean_token_len": (n_chars.cast("double") / safe_toks),
        "punct_ratio": (n_punct.cast("double") / safe_chars),
        "alpha_ratio": (n_alpha.cast("double") / safe_chars),
        "stopword_ratio": (n_stop.cast("double") / safe_toks),
    }


def quality_score(text: Column, rounded: bool = True) -> Column:
    """Composite [0,1] quality score from ``quality_features`` —
    deterministic linear blend used by the filtering operator.

    ``rounded=False`` skips the final ``round(·, 6)``: Spark rounds
    HALF_UP while some engines round half-even, so oracle-compared
    queries use the raw IEEE value (bit-identical across engines).
    """
    f = quality_features(text)
    score = (
        F.least(f["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0)) * 0.3
        + f["alpha_ratio"] * 0.3
        + F.least(f["stopword_ratio"] * F.lit(3.0), F.lit(1.0)) * 0.2
        + (F.lit(1.0) - F.least(f["punct_ratio"] * F.lit(5.0), F.lit(1.0))) * 0.2
    )
    return F.round(score, 6) if rounded else score


def split_assign(id_col: Column, fractions: dict[str, float], buckets: int = 10_000) -> Column:
    """Deterministic train/val/test assignment from a numeric id —
    hash-bucket the id with integer mixing (portable to any engine),
    then map cumulative fraction ranges to split names. Stable across
    runs/engines; no randomness, replay-safe.
    """
    h = F.pmod((id_col.cast("long") + 1) * F.lit(2_654_435_761), F.lit(buckets))
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        cond = h < F.lit(int(round(acc * buckets)))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr.otherwise(F.lit("rest"))


def doc_fingerprint_portable(text: Column) -> Column:
    """Rolling polynomial hash over whitespace tokens, mod a small prime.

    fp = fold(tokens, 0, (acc, t) -> (acc*31 + tokhash(t)) % 1000003)
    with the engine-portable token hash ``length(t)*31 +
    ascii(first_char)`` — computable in any SQL engine (the DuckDB
    oracle gate checks it). The small modulus keeps the arithmetic
    exact in any engine.
    """
    toks = tokenize(text)
    tok_hash = lambda t: (F.length(t) * FINGERPRINT_BASE + F.ascii(F.substring(t, 1, 1))).cast(  # noqa: E731
        "long"
    )
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FINGERPRINT_BASE + F.pmod(tok_hash(t), F.lit(FINGERPRINT_MOD)))
        % FINGERPRINT_MOD,
    )


# Distinct mixing prime from split_assign's 2654435761 so sampling is
# decorrelated from train/val/test assignment (same doc can be sampled
# regardless of which split it landed in).
SAMPLE_PRIME = 2_246_822_519


def stratified_keep(
    id_col: Column,
    group_col: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = 10_000,
) -> Column:
    """Deterministic per-group (stratified) sampling predicate.

    Hash-bucket the numeric id with integer mixing (portable to any
    SQL engine — no randomness, replay-safe) and keep the row when its
    bucket falls under the group's rate threshold. The workhorse for
    corpus mixture weighting: up-/down-sample sources or languages with
    exact, reproducible per-group fractions, streamed as a pure column
    predicate (no shuffle, no state).
    """
    h = F.pmod((id_col.cast("long") + 1) * F.lit(SAMPLE_PRIME), F.lit(buckets))
    thr: Column = F.lit(int(round(default_rate * buckets)))
    for name, rate in rates.items():
        thr = F.when(group_col == F.lit(name), F.lit(int(round(rate * buckets)))).otherwise(thr)
    return h < thr


# PII scrubbing patterns — shared RE2/Java-regex subset (no backrefs,
# no lookaround) so Spark's regexp_replace and the oracle's DuckDB
# regexp_replace(..., 'g') produce byte-identical output.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_LONG_NUM_RE = r"[0-9]{7,}"


def redact_pii(text: Column) -> Column:
    """Scrub PII-shaped substrings from free text: emails → [EMAIL],
    phone numbers → [PHONE], long digit runs (account ids) → [NUM].

    Order matters (emails before digit runs so the user part survives
    as [EMAIL], not [EMAIL]+[NUM]); applied identically in the SQL
    oracle. Expression-only — codegen'd, zero Python in the row path.
    """
    out = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")
    return F.regexp_replace(out, PII_LONG_NUM_RE, "[NUM]")
