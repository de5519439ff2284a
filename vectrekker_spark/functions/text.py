"""Text-analysis column expressions: tokenization proxy, stats, language-ID,
quality scoring, fingerprinting, shingling.

All pure Catalyst expressions (JVM-side) so they survive 100 TB: no Python in
the hot path. Where the reference used tiktoken (`vectrekker/main.py:170,175`)
the engine offers (a) this whitespace/regex proxy, oracle-checkable in SQL,
and (b) an optional tiktoken pandas_udf in functions/tokenize.py, gated on the
library being installed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array)."""
    t = F.trim(_c(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    # regexp_count of non-space runs ≡ size(tokens(...)) whenever the text
    # has no leading/trailing NON-SPACE whitespace (empty/ws-only → 0),
    # without materializing the split array. On e.g. '\tfoo' the two
    # deliberately differ: tokens() is Java split-after-space-trim and
    # yields a boundary '' token (['', 'foo']) where this counts \S+ runs
    # (1) — the count is the honest "how many words" answer, and bm25
    # (the one consumer mixing both) never term-matches a '' token since
    # query terms are non-empty by construction.
    return F.regexp_count(F.trim(_c(text)), F.lit(r"\S+"))


def avg_word_len(text: Column | str) -> Column:
    """Mean token length; deterministic as total_chars/word_count.

    total token chars == count of non-whitespace chars (tokens are the \\S+
    runs), so one regexp_replace strip replaces the aggregate-over-split
    higher-order function: HOFs are CodegenFallback (interpreted, excluded
    from whole-stage codegen and its subexpression elimination) while the
    regexp pair stays JVM-codegen — ~10× on wide text columns."""
    t = _c(text)
    total = F.length(F.regexp_replace(t, r"\s+", ""))
    return total.cast("double") / token_count(t)


def punct_ratio(text: Column | str) -> Column:
    r"""Fraction of characters that are not alphanumeric/space — one of the
    classic quality heuristics for LLM corpus filtering. Unicode classes
    (``\p{L}\p{N}`` — supported identically by Java and RE2): the old
    ASCII ``[A-Za-z0-9]`` counted every non-Latin LETTER as punctuation,
    so clean Russian/Greek/CJK text scored ~0.9 punct and any quality
    threshold rejected whole non-Latin corpora (r14s3 review; the same
    bug the r10 review fixed in _is_content_line)."""
    t = _c(text)
    stripped = F.regexp_replace(t, r"[\p{L}\p{N}\s]", "")
    return F.length(stripped).cast("double") / F.length(t)


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-expressible; not a production model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "que"],
    "es": ["el", "la", "los", "de", "es", "una", "por", "con"],
}


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Count of tokens (lowercased) that are in `lang`'s stopword list.

    Formulated as one regexp_count over the space-padded lowered text with a
    whitespace-anchored alternation — `\\s(w1|w2|…)(?=\\s)` — instead of
    size(filter(transform(split(…)))): exact token-equality semantics are
    preserved (the lookbehind \\s / lookahead \\s pin both token edges, so
    "the," never matches), adjacent stopwords both count because the trailing
    edge is a non-consuming lookahead, and the whole thing stays inside
    whole-stage codegen where the HOF chain was interpreted CodegenFallback."""
    pat = r"\s(" + "|".join(STOPWORDS[lang]) + r")(?=\s)"
    padded = F.concat(F.lit(" "), F.lower(_c(text)), F.lit(" "))
    return F.regexp_count(padded, F.lit(pat))


def quality_score_parts(n: Column, pr: Column, awl: Column) -> Column:
    """Quality score from precomputed parts (char count, punct ratio, avg word
    length) — lets callers that already materialize those columns avoid
    recomputing the regexp/split/aggregate passes a second time."""
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.when(pr <= 0.1, F.lit(1.0)).otherwise(F.lit(1.0) - pr)
    wl_ok = F.when((awl >= 3.0) & (awl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.6))
    return F.round((len_ok + punct_ok + wl_ok) / 3.0, 4)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    plausible word length. Rounded to 4 so both engines hash identically."""
    t = _c(text)
    return quality_score_parts(F.length(t), punct_ratio(t), avg_word_len(t))


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of lowercased, whitespace-stripped text.
    Robust to reflow/case; the engine's analog of an id-stable content hash."""
    return F.md5(F.regexp_replace(F.lower(_c(text)), r"\s+", ""))


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-grams of the lowercased text (for Jaccard/MinHash).

    NULL text behaves like '' → [''] — the word_shingles rule. Before r12
    NULL text produced [NULL] (substring over NULL), i.e. one junk NULL
    shingle per null doc; found by the kernel differential fuzzer."""
    t = F.lower(F.coalesce(_c(text), F.lit("")))
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(t, i, k))
    )


def _gram_chain(tok: Column, k: int) -> Column:
    """All k-token joins aligned at each start position, built by zipping the
    token array against its own k-1 shifted copies. ~2× faster than the
    obvious transform(sequence, i -> concat_ws(slice(tok, i, k))): zip_with's
    lambda is a cheap string concat, while per-index slice allocates a fresh
    sub-array per gram (HOFs are interpreted, so allocation dominates).
    Positions past n-k+1 hold shorter tails (zip padding nulls are skipped by
    concat_ws); callers slice them off."""
    out = tok
    n = F.size(tok)
    for j in range(1, k):
        out = F.zip_with(
            out,
            F.slice(tok, j + 1, F.greatest(n - j, F.lit(1))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return out


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles joined by a single space. A text with
    fewer than k tokens yields its single all-token join (matching the SQL
    twin's greatest(len-k, 0) guard)."""
    tok = tokens(F.lower(_c(text)))
    n = F.size(tok)
    return F.array_distinct(
        F.when(n >= k, F.slice(_gram_chain(tok, k), 1, n - F.lit(k - 1)))
        .otherwise(F.array(F.concat_ws(" ", tok)))
    )


def word_grams(text: Column | str, k: int) -> Column:
    """NON-distinct word k-grams of the lowercased text, in order. Repetition
    analysis needs multiplicity, so unlike ``word_shingles`` nothing is
    deduplicated and a text with fewer than k tokens yields an EMPTY array
    (not a short shingle). DuckDB twin: ``list_transform(generate_series(0,
    len(toks)-k), i -> array_to_string(toks[i+1:i+k], ' '))`` — DuckDB's
    generate_series is empty for a negative stop, matching the guard here."""
    tok = tokens(F.lower(_c(text)))
    n = F.size(tok)
    return F.when(
        n >= k, F.slice(_gram_chain(tok, k), 1, n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<string>"))


def dup_line_fraction(text: Column | str) -> Column:
    """Fraction of lines that are duplicates of an earlier line: 1 -
    distinct/total over the '\\n'-split lines (0.0 for single-line text;
    NULL text → NULL — under the session's legacy sizeOfNull config
    size(NULL) is -1 and the unguarded ratio returned a PERFECT 0.0 for
    NULL docs, the exact trap boilerplate_fraction guards; r14s3)."""
    t = _c(text)
    lines = F.split(t, "\n")
    return F.when(t.isNull(), F.lit(None).cast("double")).otherwise(
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double") / F.size(lines),
            6,
        )
    )


def _is_content_line(line: Column, min_words: int, min_alpha: float) -> Column:
    r"""Keep rule for one line: at least ``min_words`` words CONTAINING A
    LETTER (symbol-only tokens like '»' or '|' never count — nav bars are
    full of them) and a letter-character ratio of at least ``min_alpha``
    (rules out separator/number/punctuation lines).

    "Letter" is the UNICODE class \p{L} (Java and RE2 agree on it), not
    ASCII [A-Za-z] — an ASCII rule silently classifies every non-Latin-
    script document as 100% boilerplate (r10 review finding). Words split
    on \s+, the engine-wide tokens() rule; NBSP-separated words still
    read as one token — the same documented limitation tokens() carries
    (Java/RE2 \s is ASCII whitespace)."""
    words = F.filter(
        F.split(F.trim(line), r"\s+"), lambda w: w.rlike(r"\p{L}")
    )
    alpha_ratio = (
        F.length(F.regexp_replace(line, r"[^\p{L}]", "")).cast("double")
        / F.greatest(F.length(line), F.lit(1))
    )
    return (F.size(words) >= min_words) & (alpha_ratio >= min_alpha)


def keep_content_lines(
    text: Column | str, min_words: int = 3, min_alpha: float = 0.5
) -> Column:
    """Line-level boilerplate strip (the jusText/trafilatura-shaped
    heuristic, C19): drop navigation/menu/separator lines — short
    link-texts ("Home", "Log in"), symbol bars, number runs — and keep
    content lines, rejoined with '\\n'. Pure Catalyst higher-order
    functions (filter lambda over split lines): a narrow JVM-side map
    that survives 100 TB, and expressible verbatim in DuckDB
    (list_filter + regexp_matches) for bit-exact oracle parity.

    NULL text stays NULL (the engine-wide null rule); a document whose
    every line is boilerplate becomes '' — callers decide whether empty
    docs drop (curate() drops them, recorded in the funnel)."""
    t = _c(text)
    return F.when(
        t.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.array_join(
            F.filter(
                F.split(t, "\n"),
                lambda line: _is_content_line(line, min_words, min_alpha),
            ),
            "\n",
        )
    )


def boilerplate_fraction(
    text: Column | str, min_words: int = 3, min_alpha: float = 0.5
) -> Column:
    """Fraction of lines the keep_content_lines rule would DROP — the
    doc-level gate companion (a page that is 90% nav chrome is itself a
    low-quality doc even after stripping). NULL for NULL text."""
    t = _c(text)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines, lambda line: _is_content_line(line, min_words, min_alpha)
    )
    # explicit NULL guard: size(NULL) is -1 under the engine's legacy
    # sizeOfNull conf, which would "compute" a fraction of 2.0 for NULL
    # text instead of NULL (the d26/size lesson)
    return F.when(t.isNull(), F.lit(None).cast("double")).otherwise(
        F.round(
            F.lit(1.0) - F.size(kept).cast("double") / F.greatest(
                F.size(lines), F.lit(1)
            ),
            6,
        )
    )


# PII scrubbing (north-star curation surface): regex redaction of the two
# highest-frequency PII shapes in web corpora. Patterns are deliberately kept
# to the syntax subset where Java regex (Spark) and RE2 (DuckDB) agree —
# character classes, bounded/greedy quantifiers, no backrefs/lookaround — so
# the oracle can run the identical pattern. Pure Catalyst expressions: the
# scrub is a narrow map that survives any scale.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9 -]{7,}[0-9]"


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for audit/funnel metrics."""
    t = _c(text)
    return (
        F.regexp_count(t, F.lit(EMAIL_RE)),
        F.regexp_count(t, F.lit(PHONE_RE)),
    )


def redact_pii(text: Column | str) -> Column:
    """Replace emails then phone numbers with typed placeholder tags.
    Order matters (emails first) and is mirrored in the SQL oracle."""
    t = _c(text)
    return F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash shared with the DuckDB oracle:
    first 8 hex digits of md5, as a bigint. Spark `conv(substr(md5(x),1,8),16,10)`
    ≡ DuckDB `('0x'||substr(md5(x),1,8))::BIGINT`."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


# Sentence boundary: terminal punctuation run (+ optional closing
# quotes/brackets), ASCII whitespace, then a capital/digit/opening-quote
# sentence starter. The starter is CAPTURED (not a lookahead): RE2 — the
# DuckDB mirror's engine — has no lookaround, so the boundary rule must be
# expressible as plain capture+backreference in BOTH dialects.
SENTENCE_BOUNDARY = "([.!?]+[\"')\\]]*)[ \\t\\n\\r]+([A-Z0-9\"'(\\[])"  # \\r: CRLF text never matched without it (r14s3)
_SENT_SEP = "\x1f"  # unit separator: never occurs in cleaned text


def sentence_split(text: Column | str) -> Column:
    """Array of sentences: a unit-separator sentinel is injected at each
    SENTENCE_BOUNDARY, then split. Pre-existing U+001F bytes are STRIPPED
    first (binary-contaminated crawl text would otherwise split mid-word
    at each one — review finding; the normalize stage also strips C0
    controls but is opt-in). Deliberately heuristic and mirrorable:
    no abbreviation list ("Mr. Smith" splits after "Mr." — the documented
    expression-tier limit; real sentence ends lacking a capitalized
    starter don't split). NULL → NULL; whitespace-only → ['']."""
    t = F.regexp_replace(F.trim(_c(text)), _SENT_SEP, "")
    return F.split(
        F.regexp_replace(t, SENTENCE_BOUNDARY, "$1" + _SENT_SEP + "$2"),
        _SENT_SEP,
    )
