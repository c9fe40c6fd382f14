"""Text-analysis column expressions for large-scale document pipelines.

Everything here is built-in Catalyst expressions (JVM-side, codegen'd) —
the operators run at parquet-scan speed with no Python in the loop:
tokenization, token counting, quality scoring, language ID (stopword
heuristic), and content fingerprinting. Designed for the `documents` table
(doc_id, text, lang, source, n_chars) but schema-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: ColumnOrName) -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    t = F.trim(_c(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: ColumnOrName) -> Column:
    """Whitespace token count (the 'word count' a data pipeline budgets by)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: ColumnOrName) -> Column:
    """BPE-ish token estimate: count of word-piece units under the GPT-2-style
    pre-tokenizer regex (runs of letters / digits / punctuation, leading
    space attached). A cheap, deterministic proxy for tokenizer budgeting
    when the real tokenizer can't run in the JVM."""
    # Each match ≈ one pre-token; regexp_count is JVM-side.
    return F.regexp_count(_c(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"))


def char_count(col: ColumnOrName) -> Column:
    return F.length(_c(col))


def punct_ratio(col: ColumnOrName) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = _c(col)
    n = F.length(c)
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def mean_word_length(col: ColumnOrName) -> Column:
    tk = tokens(col)
    n = F.size(tk)
    total = F.aggregate(tk, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n)


#: Minimal per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately tiny: the operator's job is the Spark-side shape
#: (set-membership scoring, argmax across languages), not linguistic quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una", "es", "para"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"),
}


def stopword_hits(col: ColumnOrName, lang: str = "en") -> Column:
    """Raw count of lowercased tokens that are ``lang`` stopwords — the
    integer numerator behind stopword_ratio, exposed so integer-exact
    consumers (fleiss_kappa_agreement's rater T) can band on it without
    a float division."""
    tk = F.transform(tokens(col), lambda w: F.lower(w))
    return F.size(F.filter(tk, lambda w: w.isin(*STOPWORDS[lang])))


def stopword_ratio(col: ColumnOrName, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (quality signal)."""
    tk = F.transform(tokens(col), lambda w: F.lower(w))
    n = F.size(tk)
    raw_hits = F.size(F.filter(tk, lambda w: w.isin(*STOPWORDS[lang])))
    return F.when(n == 0, F.lit(0.0)).otherwise(raw_hits.cast("double") / n)


def lang_scores(col: ColumnOrName) -> dict[str, Column]:
    """Per-language stopword-hit counts over lowercased tokens."""
    tk = F.transform(tokens(col), lambda w: F.lower(w))

    def member_of(words: tuple[str, ...]):
        # NB: closure, not a default arg — `lambda w, ws=words:` would make
        # PySpark treat the lambda as the 2-arg (element, index) form.
        return lambda w: w.isin(*words)

    out: dict[str, Column] = {}
    for lang, words in STOPWORDS.items():
        if lang == "zh":
            # zh "stopwords" are single chars — substring hits, not token hits.
            out[lang] = sum(
                (F.regexp_count(_c(col), F.lit(w)) for w in words), F.lit(0)
            )
        else:
            out[lang] = F.size(F.filter(tk, member_of(words)))
    return out


def lang_id(col: ColumnOrName, default: str = "und") -> Column:
    """Heuristic language ID: argmax of per-language stopword scores;
    'und' when every score is 0. Deterministic tie-break: lexicographic
    language code order (scores equal → first code wins)."""
    scores = lang_scores(col)
    # argmax via a struct sort: (score DESC, lang ASC) — pick the head.
    pairs = F.array(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_min(pairs)  # struct ordering: by neg asc = score desc, then lang asc
    return F.when(-best["neg"] <= 0, F.lit(default)).otherwise(best["lang"])


def quality_score(col: ColumnOrName) -> Column:
    """Composite [0,1] quality score from cheap signals: length band,
    punctuation sanity, stopword presence, mean word length band.
    The weights are arbitrary-but-fixed; the operator contract is
    determinism + monotonicity in each signal, mirroring C4/Gopher-style
    heuristic filters."""
    n = char_count(col)
    len_band = (
        F.when(n < 50, 0.0).when(n < 200, 0.5).when(n <= 20000, 1.0).otherwise(0.5)
    )
    p = punct_ratio(col)
    punct_band = F.when(p <= 0.2, 1.0).when(p <= 0.4, 0.5).otherwise(0.0)
    sw = stopword_ratio(col)
    sw_band = F.when((sw >= 0.05) & (sw <= 0.6), 1.0).otherwise(0.3)
    mwl = mean_word_length(col)
    mwl_band = F.when((mwl >= 2.5) & (mwl <= 12), 1.0).otherwise(0.2)
    return F.round(0.3 * len_band + 0.2 * punct_band + 0.25 * sw_band + 0.25 * mwl_band, 4)


def strip_markup(col: ColumnOrName) -> Column:
    """HTML/XML markup removal — the first cleaning pass over crawled
    training text. Three JVM regex passes: tags → space, character
    entities (`&nbsp;`, `&#39;`, …) → space, whitespace collapse + trim.
    Patterns are RE2-safe so the DuckDB oracle can mirror them verbatim."""
    c = F.regexp_replace(_c(col), r"<[^>]*>", " ")
    c = F.regexp_replace(c, r"&[A-Za-z#0-9]{1,8};", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def normalize_for_fingerprint(col: ColumnOrName) -> Column:
    """Canonical form for content-defined fingerprints: lowercase, strip
    non-alphanumerics to single spaces, trim."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"[^a-z0-9À-ɏ一-鿿]+", " ")
    return F.trim(c)


def fingerprint(col: ColumnOrName) -> Column:
    """Deterministic 128-bit content fingerprint (md5 of normalized text).
    Exact-dedup key that survives whitespace/punctuation/case jitter."""
    return F.md5(normalize_for_fingerprint(col))


def shingles(col: ColumnOrName, k: int = 3) -> Column:
    """Distinct word k-grams ('shingles') of the normalized text. The unit
    set for Jaccard similarity / MinHash. Documents shorter than k words
    yield a single shingle of the whole text (so they can still match).

    Formulation note: overlapping k-grams extracted in ONE JVM regex pass —
    a word-start anchor with a capturing lookahead (`(?<!\\S)(?=(\\S+ ...))`)
    matches at every word start without consuming the gram, so one
    regexp_extract_all yields all n-k+1 overlapping grams. The anchor is
    `(?<!\\S)` (start-of-string or after whitespace), NOT `\\b`: Java's word
    boundary classifies by its JDK's Unicode table, which drops word starts
    on late-assigned code points (e.g. U+9FFF under Java 17/Unicode 13) —
    found by the hypothesis parity test. Measured 4.6× faster than the
    arrays_zip + per-element interpreted-HOF concat formulation, which
    itself measured ~10× over per-index slicing: higher-order-function
    lambdas evaluate interpreted per element; regexp_extract_all stays
    native for the whole document.
    """
    norm = normalize_for_fingerprint(col)
    words = F.split(norm, " ")
    n = F.size(words)
    pattern = r"(?<!\S)(?=(" + " ".join([r"\S+"] * k) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pattern), 1)
    whole = F.array(F.array_join(words, " "))
    out = F.array_distinct(F.when(n >= k, grams).otherwise(whole))
    # NULL text MUST yield an empty set, not [NULL]: xxhash64(NULL) returns
    # the SEED (not NULL), so [NULL] shingles from different null documents
    # would all collide on one hash and the whole dedup family would pair
    # every null doc with every other (found by the null-injection audit).
    return F.when(norm.isNull(), F.array().cast("array<string>")).otherwise(out)
