"""Text-analysis functions for large-scale training-data pipelines.

Not present in the reference (its text handling stops at listing-string
cleanup, SURVEY §2.8); these are the standard corpus-hygiene operators a
100 TB document pipeline runs before training: token counting, quality
scoring, language ID, fingerprinting. All pure Catalyst expressions —
no Python in the hot path, so they fuse into the document scan under
whole-stage codegen.

Cross-system determinism: fingerprints use md5 (bit-identical in Spark and
DuckDB), never murmur/xxhash (engine-specific seeds).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / counting
# ---------------------------------------------------------------------------

# Java regex \s is [ \t\n\x0b\f\r]; RE2 (the DuckDB oracle engine) \s is
# [ \t\n\f\r] — vertical tab \x0b diverges ("vt\x0bx" is 2 tokens in Spark,
# 1 in RE2). Every cross-engine regex spells the class explicitly; the SQL
# twins in oracles.py use the byte-identical spelling.
WS_RE = r"[ \t\n\f\r\x0b]+"
NON_WS_RE = r"[^ \t\n\f\r\x0b]+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, WS_RE))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the ``wc -w`` analog; empty → 0, NULL → NULL
    — guarded because legacy ``size(NULL)`` is -1 under ANSI-off, which
    would flow into length filters as a valid small number)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(None).cast("int")).otherwise(F.size(tokens(c)))


# BPE-ish token pattern (a cheap subword-tokenizer proxy): alpha runs, digit
# runs and each punctuation char count separately.
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r\x0b]"


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "this", "that",
]


def _let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE, hand it
    to ``body`` as a HOF lambda VARIABLE (bound variables are values —
    referencing them repeatedly never re-evaluates the subtree, unlike
    captured expressions, which re-evaluate per reference).

    Why this exists (r10): Catalyst pushes deterministic predicates through
    Projects, so ``df.select(score.alias("q")).filter("q >= t")`` inlines
    the WHOLE scoring expression into a Filter — and FilterExec gets
    neither whole-stage codegen (HOFs are interpreted) nor subexpression
    elimination, so every internal re-reference of a shared subtree
    re-executes it per row. Measured on the 10x lane: lang_id_scores in
    filter position ran 9.3x its projection cost (8 token-splits per row
    instead of 1). Single-element-array transform is the cheapest
    let-binding Spark's expression language offers; ``element_at(..., 1)``
    (not ``[0]``/getItem) stays ANSI-safe."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: blend of length signal,
    alpha-character ratio, stopword ratio, and mean word length sanity.

    Components:
      len_sig   = min(n_chars/500, 1)          — longer docs up to a cap
      alpha     = alpha_chars / max(chars,1)   — symbol soup scores low
      stop      = min(stop_ratio*5, 1)         — natural prose has stopwords
      wordlen   = 1 if mean word length in [3,12] else 0.5

    Filter-position safe (r10): the token split and the per-doc stats are
    let-bound (:func:`_let`), so the expression evaluates each heavy
    subtree exactly once per row even when Catalyst pushes it into a
    Filter, where no CSE exists. Arithmetic is unchanged — values are
    bit-identical to the r09 form (the oracles pin this).
    """
    c = F.col(col) if isinstance(col, str) else col

    def _score(s: Column) -> Column:
        n_chars = s["n_chars"]
        alpha_chars = s["alpha_chars"]
        n_tok = s["n_tok"]
        stop_hits = s["stop_hits"]
        len_sig = F.least(n_chars.cast("double") / 500.0, F.lit(1.0))
        alpha_ratio = alpha_chars.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
        stop_ratio = stop_hits.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
        stop_sig = F.least(stop_ratio * 5.0, F.lit(1.0))
        mean_wordlen = alpha_chars.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
        wordlen_sig = F.when((mean_wordlen >= 3.0) & (mean_wordlen <= 12.0), 1.0).otherwise(0.5)
        return len_sig * 0.25 + alpha_ratio * 0.25 + stop_sig * 0.25 + wordlen_sig * 0.25

    return _let(
        tokens(c),
        lambda tk: _let(
            F.struct(
                F.length(c).alias("n_chars"),
                F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).alias("alpha_chars"),
                F.size(tk).alias("n_tok"),
                F.size(
                    F.filter(tk, lambda t: F.lower(t).isin(_STOPWORDS))
                ).alias("stop_hits"),
            ),
            _score,
        ),
    )


# ---------------------------------------------------------------------------
# language ID (n-gram / marker-word heuristic)
# ---------------------------------------------------------------------------

# tiny marker lexicons; deterministic, good enough for coarse routing.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "pas", "pour"],
    "es": ["el", "los", "las", "es", "una", "por", "con", "para"],
}


def lang_id_scores(col: Column | str) -> Column:
    """Best-guess language code by marker-word hits; ties and zero hits
    resolve to 'und' (undetermined) / lexicographically-first max.

    Filter-position safe (r10, same class as quality_score): the lowered
    token array and the winning (neg, lang) struct are let-bound
    (:func:`_let`) — the r09 form referenced the whole ranked subtree
    twice (the ``neg`` guard and the ``lang`` field), which doubled an
    already 4-split expression wherever a predicate pushdown inlined it
    into a Filter. Decision logic and values are unchanged."""
    c = F.col(col) if isinstance(col, str) else col

    def _best(tk: Column) -> Column:
        # closure factory: the lambda must be unary (PySpark treats a
        # binary lambda as an (element, index) function); tk is a BOUND
        # variable, so the four per-language passes share one split
        def _hits(words: list[str]):
            return F.size(F.filter(tk, lambda t: t.isin(words)))  # py4j-audited: words are the module's per-language literal lists (≤ ~10 each)

        # build (lang, hits) structs, pick max hits with lang as tiebreak:
        # sort by (-hits, lang) ascending and take element 1 — we want the
        # lexicographically FIRST lang on hit ties
        entries = F.array(
            *[
                F.struct(_hits(words).alias("hits"), F.lit(lang).alias("lang"))
                for lang, words in sorted(LANG_MARKERS.items())
            ]
        )
        ranked = F.sort_array(
            F.transform(
                entries,
                lambda e: F.struct((-e["hits"]).alias("neg"), e["lang"].alias("lang")),
            )
        )
        return F.element_at(ranked, 1)

    return _let(
        F.transform(tokens(c), F.lower),
        lambda tk: _let(
            _best(tk),
            lambda best: F.when(best["neg"] == 0, F.lit("und")).otherwise(
                best["lang"]
            ),
        ),
    )


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip leading/trailing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS_RE, " "))


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint = md5 of normalized text. md5 (not xxhash/murmur)
    so Spark and DuckDB produce bit-identical values — the exact-dedup key."""
    return F.md5(normalize_text(col))


# PII patterns — applied in order (URL first: emails/IPs inside URLs must
# not survive as fragments after the URL token replaces the rest). Kept to
# the regex subset with identical semantics in Java regex and RE2/DuckDB.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://" + NON_WS_RE, "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str) -> Column:
    """Training-data PII scrub: URLs, emails, and IPv4 literals replaced by
    type tokens — pure chained ``regexp_replace`` (codegen, no UDF). The
    standard pre-training hygiene pass; order matters and is fixed by
    PII_PATTERNS. SQL twin: the same chain with the 'g' flag."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def bigrams(col: Column | str) -> Column:
    """Adjacent whitespace-token pairs as an array of 'a b' strings — the
    unit of repetition scoring. <2 tokens → empty array.

    Shape matters: ``zip_with`` over two ``slice``s of the token array, so
    the regex tokenization is evaluated O(1) times per row. The previous
    ``transform(sequence, i -> element_at(t, i))`` captured the ``split``
    expression inside the lambda, and higher-order-function lambdas
    re-evaluate captured subtrees PER ELEMENT — O(n_tokens) regex splits
    per doc, O(n²) work overall. Invisible on short docs; on the
    adversarial 30×-repetitive vintage (~1.5k tokens/doc) it was 105×
    slower (measured r09: 61.2s vs 0.58s for 2k synthetic 1500-token
    docs), the entire q_corpus_stats_score / q_collocations 38×/28×
    adversarial-probe blowup."""
    t = tokens(col)
    n = F.size(t)
    len_ = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(t, 1, len_), F.slice(t, 2, len_),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, pairs).otherwise(F.array().cast("array<string>"))


_HASH_BASE = 31
_HASH_MOD = 1_000_000_007


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over characters (Rabin-Karp style), computed
    with a higher-order aggregate — demonstrates order-sensitive folds as
    pure Catalyst expressions. h = (h*31 + ascii(ch)) % 1_000_000_007."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * _HASH_BASE + F.ascii(ch)) % _HASH_MOD,
    )
