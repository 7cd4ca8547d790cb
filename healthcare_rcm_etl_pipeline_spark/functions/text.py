"""Text-analysis column expressions for the training-data pipeline surface.

All pure ``Column`` expressions over built-in/higher-order functions —
JVM-side, no Python in the hot path, so they hold up on 100 TB of documents.

Operators: tokenization, word n-gram shingles, token counting (whitespace +
a BPE-ish regex), quality scoring (length / punctuation / stopword /
uniqueness ratios), a deterministic language-ID heuristic, and document
fingerprinting (md5 canonical + 64-bit rolling-style xxhash).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions.cleanse import _c, ColumnOrName

# Tiny function-word lists per language for the language-ID heuristic.
# Deterministic and SQL-oracle-able; real deployments would swap in proper
# n-gram profiles — the operator shape (score -> argmax, all JVM-side) is
# what matters at scale.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "to", "in"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "es": ["el", "de", "y", "que", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}

# BPE-ish tokenizer: word pieces, numbers, or single non-space symbols.
# Mirrors the common GPT-2-style pre-tokenization shape without \p classes so
# the same pattern runs in Spark (Java regex) and DuckDB (RE2) identically.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: ColumnOrName) -> Column:
    """Lower-cased whitespace tokens, empty strings removed."""
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")
    return F.filter(toks, lambda t: t != "")


def token_count_ws(col: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpe_ish(col: ColumnOrName) -> Column:
    """BPE-ish token count via regexp extraction (regexp_count of pieces)."""
    return F.regexp_count(_c(col), F.lit(BPE_ISH_PATTERN))


def ngram_array(toks: Column, n: int) -> Column:
    """Positional (NON-distinct, document-order) word n-grams from an
    ALREADY-MATERIALIZED token array column — one entry per window position,
    as needed by repetition statistics where multiplicity is the signal.

    Callers must evaluate ``tokens()`` into a real column first (one
    projection step): an expression lambda inlines its inputs, so passing
    ``tokens(text)`` here directly would re-run the regex tokenizer once per
    shingle position — measured ~10× slower on real corpora.
    """
    # zip_with over n shifted slices is linear in token count; the obvious
    # transform(sequence, i -> concat_ws(slice(toks, i, n))) allocates a
    # sub-array per position (O(len²)) — measured 7× slower on real docs.
    # L=0 for docs shorter than n -> empty slices -> empty shingle set.
    length = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    combined = F.slice(toks, 1, length)
    for i in range(1, n):
        combined = F.zip_with(
            combined, F.slice(toks, i + 1, length), lambda a, b: F.concat_ws(" ", a, b)
        )
    return combined


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array column
    (see ``ngram_array`` for the materialization requirement)."""
    return F.array_distinct(ngram_array(toks, n))


def stopword_ratio(col: ColumnOrName, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (double, deterministic)."""
    sw = stopwords or LANG_MARKERS["en"]
    toks = tokens(col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return n_stop / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def punct_ratio(col: ColumnOrName) -> Column:
    """Fraction of characters that are punctuation/symbols."""
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[^A-Za-z0-9\\s]", ""))
    return n_punct / F.nullif(F.length(c).cast("double"), F.lit(0.0))


def avg_token_len(col: ColumnOrName) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def uniq_token_ratio(col: ColumnOrName) -> Column:
    toks = tokens(col)
    return F.size(F.array_distinct(toks)) / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(col: ColumnOrName) -> Column:
    """Composite [0,1] quality score: favors mid-length docs, low punctuation,
    some stopwords, lexical diversity. Deterministic arithmetic only."""
    c = _c(col)
    n_tok = token_count_ws(c).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(F.coalesce(punct_ratio(c), F.lit(0.0)) * 4, F.lit(1.0))
    stop_score = F.least(F.coalesce(stopword_ratio(c), F.lit(0.0)) * 5, F.lit(1.0))
    uniq = F.coalesce(uniq_token_ratio(c), F.lit(0.0))
    return F.round((len_score + punct_pen + stop_score + uniq) / 4, 6)


def marker_hits(col: ColumnOrName, markers: list[str]) -> Column:
    """Number of tokens that appear in a marker list (non-distinct count)."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(markers)))


def langid(col: ColumnOrName) -> Column:
    """Deterministic language-ID heuristic: argmax of marker-token counts,
    ties and zero-evidence -> 'und'. Pure expression -> SQL-oracle-able."""
    c = _c(col)
    scores = [(lang, marker_hits(c, mk)) for lang, mk in LANG_MARKERS.items()]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("und")
    # first-wins on ties, in declaration order
    for lang, s in reversed(scores):
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def normalize_text(col: ColumnOrName) -> Column:
    """Canonical form for fingerprinting: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def fingerprint_md5(col: ColumnOrName) -> Column:
    """Canonical-text md5 fingerprint (exact-dedup key)."""
    return F.md5(normalize_text(col))


PII_PATTERNS: dict[str, str] = {
    # pragmatic patterns, portable between Java regex and RE2 (DuckDB):
    # no lookaround, no \p classes
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "\\+?[0-9][0-9()\\-. ]{7,}[0-9]",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def redact_pii(col: ColumnOrName, kinds: list[str] | None = None) -> Column:
    """Replace email/phone/SSN-shaped substrings with ``[<KIND>]`` tokens —
    the standard pre-training scrub pass. Chained ``regexp_replace`` column
    expressions (codegen'd, one pass per pattern over the string, no
    Python); patterns avoid lookaround so external engines reproduce the
    result byte-for-byte for oracles. Order matters: SSN before phone, or
    the phone pattern eats the SSN shape."""
    out = _c(col)
    for kind in kinds or ["email", "ssn", "phone"]:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def kgram_hashes(col: ColumnOrName, k: int = 8) -> Column:
    """Rolling character k-gram hashes of canonical text (array<bigint>).

    The per-position hash plays the role of a Rabin-Karp rolling hash: one
    64-bit value per window position over the canonicalized string. Pure
    higher-order expressions — per-doc, no shuffle. Each k-gram is hashed
    with a 60-bit md5 prefix so any md5-capable engine (DuckDB, Trino,
    BigQuery) reproduces the values bit-for-bit for oracles. Docs shorter
    than k produce an empty array.
    """
    t = normalize_text(col)
    n = F.length(t)

    def gram_hash(i: Column) -> Column:
        g = t.substr(i, F.lit(k))
        return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram_hash)
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_minima(grams: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the distinct minima of every w-length sliding window over the k-gram
    hash sequence, sorted. Guarantees: any shared substring of length
    k + w - 1 between two docs yields at least one shared fingerprint, and
    fingerprint density is ~2/(w+1) of positions — the standard local
    plagiarism/near-dup sketch. Fewer grams than w -> the single global min;
    no grams -> empty. Callers should materialize ``kgram_hashes`` into a
    real column first (lambda inlining re-hashes per window otherwise)."""
    m = F.size(grams)
    return F.sort_array(
        F.array_distinct(
            F.when(m == 0, F.array().cast("array<bigint>"))
            .when(m < w, F.array(F.array_min(grams)))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), m - (w - 1)),
                    lambda j: F.array_min(F.slice(grams, j, w)),
                )
            )
        )
    )


def hashed_classifier_margin(
    toks: ColumnOrName, n_buckets: int = 1024, salt: str = "qw-v1"
) -> Column:
    """Integer margin of a hashing-trick linear classifier (feature hashing,
    Weinberger et al. 2009; the fastText-style doc scorer used by
    CCNet/Gopher-style quality filtering): each token hashes into one of
    ``n_buckets`` weight buckets (collisions share a weight — that IS the
    hashing trick), and the margin is the sum of the bucket weights.

    Weights are INTEGER (md5-bucket derived, range [-1000, 1000]) so the sum
    is exact and order-independent — the score reproduces bit-for-bit on any
    engine and any partitioning, with no float-accumulation drift. The
    md5-derived weights are deterministic stand-ins for a trained model
    (none ships in this container); production swaps the weight expression
    for a lookup against a broadcast array of learned per-bucket weights —
    same plan shape, still one narrow pass, no shuffle.

    ``toks`` must be an already-materialized token-array column (see
    winnow_minima's note: expression lambdas inline their inputs, so passing
    ``tokens(text)`` directly would re-run the tokenizer per reference).
    """

    def w(t: Column) -> Column:
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
            % n_buckets
        )
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), bucket.cast("string"))), 1, 12
                ),
                16,
                10,
            ).cast("bigint")
            % 2001
            - 1000
        )

    # NULL token arrays (NULL text upstream) coalesce to margin 0, so the
    # downstream sigmoid scores them 0.5 — same as an empty doc, and same
    # as the oracle's COALESCE. Without this a NULL row silently drops out
    # of score-based filters instead of landing at the neutral point.
    return F.coalesce(
        F.aggregate(
            F.transform(_c(toks), w), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ),
        F.lit(0).cast("bigint"),
    )


def hashed_classifier_score(
    toks: ColumnOrName, n_buckets: int = 1024, salt: str = "qw-v1"
) -> Column:
    """Sigmoid quality score in (0,1) from the hashing-trick margin: the mean
    per-token weight (margin / (1000 * n_tokens)) squashed by a logistic.
    Empty docs score exactly 0.5 (zero margin over a floor of one token).
    round(…, 6) because exp() may differ in the last ulp across libm
    implementations; six decimals is far coarser than 1 ulp."""
    margin = hashed_classifier_margin(toks, n_buckets, salt)
    n = F.greatest(F.size(_c(toks)), F.lit(1))
    return F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(margin / (F.lit(1000.0) * n)))), 6
    )
