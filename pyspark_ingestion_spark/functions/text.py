"""Text-analysis scalar functions for training-data pipelines.

All native Column expressions (split/regexp/md5/length — codegen'd,
pushdown-transparent). Hashes use MD5 rather than Spark's ``hash`` so
every value is reproducible in any engine (Spark's Murmur3 seeds are
engine-specific; MD5 is MD5 everywhere) — this is what lets the dedup
and fingerprint pipelines be oracle-checked bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: whitespace tokenizer pattern (kept trivial: identical semantics in Java/RE2/PCRE)
WS = r"\s+"

#: BPE-ish token pattern: letter runs, digit runs, or single non-space symbol
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: small deterministic stopword lists for the language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
}


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def words(text: Column | str) -> Column:
    """Whitespace-split word array (empty array for blank text).

    KNOWN EDGE, pinned deliberately: ``trim`` strips ASCII SPACE only,
    so text beginning with other whitespace (``\\t``, ``\\n``) yields an
    empty first token (and word_count counts it). This exact behavior
    is a three-way cross-engine contract — the DuckDB oracles
    (``string_split_regex(trim(text), ...)``, same space-only trim) and
    the Python property-test models (tests/test_properties.py
    ``_rolling_hash_py``, re.ASCII split) reproduce it bit-for-bit, and
    every fingerprint/shingle/rolling-hash derived from it is persisted
    in dedup ledgers. Changing it means changing every oracle and model
    in lockstep and re-verifying the whole text family — do that as a
    coordinated migration, never as a drive-by fix. Pipelines ingesting
    raw scraped text should normalize whitespace upstream
    (``regexp_replace(text, '^\\\\s+|\\\\s+$', '')``) before these
    functions.
    """
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, WS)
    )


def word_count(text: Column | str) -> Column:
    return F.size(words(text)).cast("long")


def token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs + digit runs + individual symbols."""
    return F.regexp_count(_c(text), F.lit(TOKEN_PATTERN)).cast("long")


def quality_score(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: letter density × length factor.

    score = (letters/chars) * least(1, words/20). Deterministic
    arithmetic only, so it's portable to any SQL oracle.
    """
    t = _c(text)
    chars = F.length(t).cast("double")
    letters = F.regexp_count(t, F.lit(r"[A-Za-z]")).cast("double")
    wc = word_count(t).cast("double")
    return F.when(chars == 0, F.lit(0.0)).otherwise(
        F.round((letters / chars) * F.least(F.lit(1.0), wc / F.lit(20.0)), 6)
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-word hit counts per language (word-boundary regex).

    The text is lowercased first — sentence-initial capitals ('The',
    'El', 'Le') are exactly the marker positions natural text has most
    of; matching case-sensitively would halve the score of title-cased
    docs (every other text function here lowercases too). The SQL
    oracles mirror with lower(text)."""
    t = F.lower(_c(text))
    return {
        lang: sum(
            (F.regexp_count(t, F.lit(rf"\b{w}\b")) for w in markers), F.lit(0)
        ).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Pick the language with the most marker hits; ties/zero → 'und'.

    A deliberately simple n-gram-free heuristic (real models would be a
    pandas_udf over a fastText-style model; the *pipeline shape* — pure
    column expression, no shuffle — is the part that matters at scale).
    Tie-break: lexicographic language code, so results are deterministic.
    """
    scores = lang_scores(text)
    pairs = [F.struct(v.alias("score"), F.lit(k).alias("lang")) for k, v in sorted(scores.items())]
    # greatest over (score, lang) structs: highest score wins; on equal
    # scores the lexicographically GREATEST lang code wins ('fr' > 'es' >
    # 'en') — the rule the oracle pins, do not "fix" to lowest-wins
    best = F.greatest(*pairs) if len(pairs) > 1 else pairs[0]
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: MD5 of whitespace-normalized lowercase text.

    MD5 (not xxhash/murmur) so fingerprints match across engines and
    survive re-platforming — they end up in catalogs and dedup ledgers.
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(_c(text))), WS, " "))


def prefix_fingerprint(text: Column | str, n_words: int = 8) -> Column:
    """MD5 over the first ``n_words`` normalized words — a cheap near-dup
    blocking key (documents sharing a long prefix hash together)."""
    w = words(F.lower(_c(text)))
    return F.md5(F.array_join(F.slice(w, 1, n_words), " "))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string> (for Jaccard/MinHash).

    Built with native transform+slice over the word array; documents
    shorter than ``n`` words get their whole text as a single shingle.

    PERFORMANCE: Catalyst does not hoist common subexpressions out of
    higher-order-function lambdas, so the embedded ``split`` re-evaluates
    at every shingle position (O(words²) per doc). In hot paths,
    materialize the word array behind a projection first and shingle
    from the column — see ``operators.dedup._shingle_table``.
    """
    w = words(F.lower(_c(text)))
    k = F.size(w)
    shingled = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.array_distinct(shingled)


#: deterministic English stopword set for quality signals
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

#: rolling-hash parameters (Rabin-Karp): base and a large prime modulus
ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of (lowercased) words that are stopwords; 0.0 for blank text."""
    ws = words(F.lower(_c(text)))
    hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(
        F.round(hits.cast("double") / F.size(ws), 6)
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation/symbols; 0.0 for empty text."""
    t = _c(text)
    punct = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")).cast("double")
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        F.round(punct / F.length(t), 6)
    )


def rolling_hash(text: Column | str) -> Column:
    """Order-sensitive Rabin-Karp document fingerprint over words.

    acc ← (acc·31 + code(word)) mod 1e9+7, where code(word) is the first
    8 hex digits of md5(word) — word order matters (unlike a bag-of-words
    hash), and every step is engine-portable integer arithmetic, so the
    same text hashes identically in any engine. Pure ``aggregate`` over
    the split array: codegen'd, no shuffle, no Python.
    """
    ws = words(_c(text))
    codes = F.transform(
        ws, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + c) % ROLLING_MOD,
    )


def positional_ngrams(words_arr: Column, n: int) -> Column:
    """ALL positional word n-grams (a multiset, unlike ``word_shingles``'
    distinct set) from a word-array column; empty array when the doc has
    fewer than ``n`` words.

    Takes the word ARRAY, not raw text: callers must materialize the
    array behind a projection boundary first (same O(words²) lambda
    pitfall as ``word_shingles`` — see ``operators.dedup._shingle_table``).
    """
    k = F.size(words_arr)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.concat_ws(" ", *[F.get(words_arr, i + j - 1) for j in range(n)]),
    )
    return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))


def ngram_repetition(words_arr: Column, n: int) -> Column:
    """Per-document n-gram repetition counters as a struct
    ``(positions, top_count, dup_count)`` — the building blocks of the
    Gopher/C4 repetition filters (Rae et al. 2021 §A1.1; Raffel et al.
    2020): ``top_count/positions`` is the fraction of n-gram slots taken
    by the single most frequent n-gram, ``dup_count/positions`` the
    fraction of slots whose n-gram occurs more than once in the doc.

    Shape matters at 100 TB: this is computed document-locally (sort the
    positional grams, then one linear ``aggregate`` scan counting run
    lengths) — zero shuffle, no explode/groupBy of every n-gram of the
    corpus through an exchange. O(p log p) per doc, all codegen'd.
    """
    s = F.array_sort(positional_ngrams(words_arr, n))
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )

    def step(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        # a run reaching 2 retro-counts its first element; longer runs add 1
        dup = acc["dup"] + F.when(run == 2, F.lit(2)).when(run > 2, F.lit(1)).otherwise(F.lit(0))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["top"], run).alias("top"),
            dup.cast("long").alias("dup"),
        )

    agg = F.aggregate(s, init, step)
    return F.struct(
        F.size(s).cast("long").alias("positions"),
        agg["top"].alias("top_count"),
        agg["dup"].alias("dup_count"),
    )


#: PII patterns shared verbatim with the SQL oracle (RE2/Java and DuckDB
#: both support this subset: no backrefs, no lookaround)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"(\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def scrub_pii(text: Column | str) -> Column:
    """Replace emails, phone numbers, IPv4 addresses and SSNs with typed
    placeholder tokens — the standard redaction pass before text enters
    a training corpus.

    Order matters and is fixed: emails first (their local part would
    otherwise be chewed up by the phone pattern's digit runs), then
    SSNs before phones (an SSN is a substring-shaped phone), then
    phones, then IPs. Pure native regexp_replace chain — JVM codegen,
    no UDF — and every pattern is expressible identically in the DuckDB
    oracle, so redaction is value-checked, not eyeballed.
    """
    out = F.regexp_replace(_c(text), PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_SSN, "<SSN>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return out
