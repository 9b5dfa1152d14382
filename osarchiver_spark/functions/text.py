"""Text-analysis column functions (north-star: training-data pipeline).

Everything here is built from pyspark.sql.functions only — JVM-side,
whole-stage-codegen'd, no Python UDFs — so a 100 TB documents table
runs these at scan speed. Each function has an exact ANSI-SQL
counterpart used by the DuckDB oracles (see queries/text.py).

Hash discipline: md5 is the one hash both Spark and DuckDB implement
bit-identically, so every sketch (shingle hash, minhash, simhash,
fingerprint) is built on md5 hex strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword language
# heuristic. Deliberately small + frozen: the oracle SQL embeds the
# same lists, so they must never drift.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token filtering (handles
    leading/trailing/repeated whitespace identically to the oracle's
    regexp_split + filter)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# PII patterns (training-data scrubbing). Deliberately RE2-safe (no
# lookarounds, no \p classes) so the identical pattern string runs
# under Java regex (Spark) and RE2 (DuckDB oracle). Applied in
# sequence — email, then IPv4, then bare digit runs — so a digit
# sequence consumed by an earlier rule is not double-counted.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
PII_PHONE = "\\+?[0-9]{7,15}"


# BPE-ish pre-tokenization pattern (the GPT-2 regex's RE2-safe core):
# letter runs, digit runs, punctuation runs — what a byte-pair
# tokenizer splits before merging. Same pattern runs in Java regex
# (Spark) and RE2 (DuckDB) — no lookarounds, no \p classes.
BPE_LIKE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]+"


def bpe_like_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_LIKE_PATTERN), 0)


def bpe_like_token_count(text: Column) -> Column:
    """Pre-tokenizer token count — the LLM-pipeline cost estimate
    (≈ tokens-before-merges; an upper bound on BPE tokens)."""
    return F.size(bpe_like_tokens(text))


def word_grams(text: Column, n: int = 3) -> Column:
    """Word n-grams WITH multiplicity (one per position) — the unit of
    repetition scoring, where duplicate grams are the signal.

    Built by zipping shifted slices of the token array (toks is
    referenced n times total). The naive per-index formulation
    ``transform(sequence(0, size-n), i -> get(toks, i+j)...)`` inlines
    the tokenizer into every element access — O(len²) re-splitting per
    document (measured 10× slower at sf0.1).

    zip_with pads the shorter side with NULL and ``concat`` propagates
    NULL, so incomplete tail grams vanish in the filter; shorter-than-n
    docs yield an empty list — same semantics as the index form.
    """
    toks = tokens(text)
    grams = toks
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, 1 << 30),
            lambda g, t: F.concat(g, F.lit(" "), t),
        )
    return F.filter(grams, lambda g: g.isNotNull())


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the unit of MinHash/Jaccard
    dedup. array_distinct because shingle *sets* define similarity."""
    return F.array_distinct(word_grams(text, n))


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams (for rolling-hash fingerprinting)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, n)))


def minhash_signature(shingles: Column, k: int = 12, hash_fn: str = "md5") -> Column:
    """k-permutation MinHash: permutation i is 'hash seeded with i'.

    hash_fn="md5" (default): array<string> of minimal hex digests,
    min over lexicographic hex order — bit-identical in DuckDB, the
    oracle-parity mode. hash_fn="xxhash64": array<bigint> minima —
    the production mode (~5× cheaper, one JVM long op per shingle
    instead of md5 + hex string churn); same operator shape, no
    oracle parity."""
    if hash_fn == "xxhash64":
        def perm(i: int):
            return lambda s: F.xxhash64(F.lit(i), s)
    else:
        def perm(i: int):
            prefix = f"{i}|"
            return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return F.array(*[F.array_min(F.transform(shingles, perm(i))) for i in range(k)])


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Banding: hash each band of `rows` consecutive minhashes to one
    bucket key. Docs sharing ANY band key become candidate pairs."""
    return F.array(
        *[
            F.md5(F.concat_ws("|", *[F.get(signature, b * rows + r) for r in range(rows)]))
            for b in range(bands)
        ]
    )


def _hex_digit_value(hex_str: Column, digit_index: int) -> Column:
    """Value 0-15 of the (0-based) digit_index-th hex char."""
    ch = F.substring(hex_str, digit_index + 1, 1)
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def token_hashes(text: Column) -> Column:
    """md5 per whitespace token — the input of simhash16_from_hashed.
    Materialize this as a real column (with an optimizer barrier such
    as repartition) before fanning out into the 16 per-bit votes;
    otherwise projection collapse re-inlines the md5 into every vote
    (16× recompute)."""
    return F.transform(tokens(text), lambda t: F.md5(t))


def simhash16_from_hashed(hashes: Column) -> Column:
    """16-bit SimHash from pre-hashed tokens.

    Each token votes +1/-1 on 16 bit positions taken from the first 4
    hex digits of its md5 (4 bits per digit); bit p of the result is
    set when the vote sum is positive. Built-in expressions only; the
    oracle reproduces it digit-for-digit.
    """

    def vote_fn(pos: int):
        d, b = divmod(pos, 4)

        def step(acc, h):
            return acc + F.when(
                _hex_digit_value(h, d).bitwiseAND(F.lit(1 << b)) != 0, F.lit(1)
            ).otherwise(F.lit(-1))

        return step

    votes = [F.aggregate(hashes, F.lit(0), vote_fn(pos)) for pos in range(16)]
    out = F.lit(0)
    for p, v in enumerate(votes):
        out = out + F.when(v > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return out


def token_simhash_mask(token: Column) -> Column:
    """16-bit integer from the first 4 hex digits of md5(token) — the
    compact per-token input of simhash_vote_columns (4 bytes instead
    of a 32-char hex string)."""
    return F.conv(F.substring(F.md5(token), 1, 4), 16, 10).cast("int")


def token_simhash_mask64(token: Column) -> Column:
    """64-bit md5 prefix of a token as a packed bigint (two 32-bit
    conv halves — a single 16-digit conv would overflow the signed
    range DuckDB-visibly; the production twin has no oracle but keeps
    the same two-halves determinism for reproducibility)."""
    hi = F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5(token), 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# Bit orders for simhash_vote_columns. 16-bit: sketch bit p reads hex
# digit p // 4, bit p % 4 of md5(token) (simhash16_from_hashed's and
# the oracle's layout); in token_simhash_mask's packed integer that
# hex digit occupies bits (3 - p//4)*4 .. +3. 64-bit: sketch bit p
# reads bit p of token_simhash_mask64's packed prefix.
SIMHASH16_BIT_ORDER = [(3 - p // 4) * 4 + p % 4 for p in range(16)]
SIMHASH64_BIT_ORDER = list(range(64))


def simhash_vote_columns(mask: Column, bit_order: list[int]) -> list[Column]:
    """Per-token ±1 vote expressions, one per sketch bit: sketch bit
    p votes +1 when bit ``bit_order[p]`` of the token's packed md5
    prefix ``mask`` is set, -1 when it is clear. The lookup is a
    shift+mask — pure codegen integer ops, no string churn past the
    one md5 per token. A NULL mask (empty/NULL text) votes 0 on every
    bit, reproducing the aggregate-over-empty-array result (sketch 0).
    """
    return [
        F.when(mask.isNull(), F.lit(0))
        .when(F.shiftrightunsigned(mask, i).bitwiseAND(F.lit(1)) != 0, F.lit(1))
        .otherwise(F.lit(-1))
        for i in bit_order
    ]


_ALNUM_SPACE = "abcdefghijklmnopqrstuvwxyz0123456789 "


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased).

    ``translate`` (a plain char-map pass) instead of
    ``regexp_replace("[a-z0-9 ]", "")``: identical output for every
    input — both remove exactly the chars in the class and keep the
    rest, non-ASCII included — but the regex form ran the java.util
    regex engine per character and rebuilt the string through it,
    which the sf10 rehearsal measured as most of text_quality's 75 s
    on 500k docs (lang_id, same scan + four token filters but no
    regex replace, took 16 s)."""
    low = F.lower(text)
    clean = F.translate(low, _ALNUM_SPACE, "")
    return F.when(F.length(text) > 0, F.length(clean) / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or ENGLISH_STOPWORDS
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language over lowercased tokens."""
    toks = tokens(F.lower(text))

    def member(words: list[str]):
        return lambda t: t.isin(words)

    return {
        lang: F.size(F.filter(toks, member(words))) for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language with fixed tie-break order en>de>es>fr; 'und'
    when no marker hits at all."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties via later .when overriding
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    out = F.when(best == 0, F.lit("und")).otherwise(out)
    return out


def normalized_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of lowercase, whitespace-collapsed
    text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def winnow_fingerprint(text: Column, n: int = 5, keep: int = 4) -> Column:
    """Rolling-hash document sketch: the `keep` smallest md5'd char
    n-grams (k-min sketch) concatenated. Two docs share sketch
    elements iff they share char n-grams — a winnowing-style
    fingerprint composed from built-ins."""
    hashed = F.transform(char_shingles(text, n), lambda s: F.md5(s))
    return F.concat_ws("|", F.slice(F.array_sort(hashed), 1, keep))
