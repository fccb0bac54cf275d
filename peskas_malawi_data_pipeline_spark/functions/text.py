"""Text-analysis column functions (extension surface, BASELINE.json north_star).

Language-ID, quality scoring, token counting, n-gram shingling, deterministic
hashing, and document fingerprinting — all as pure Column expressions
(JVM-side, codegen-friendly, no Python in the hot path), so they run at
100 TB scan speed and can be differential-tested against an ANSI-SQL oracle.

Hashing uses md5 (bit-identical across engines) truncated to 32 bits; the
shingle/minhash pipeline built on it (operators.dedup) therefore yields
identical signatures in any engine with md5, which is what makes the dedup
operators oracle-checkable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword marker sets for the n-gram/stopword heuristic
# language ID. Deliberately tiny + deterministic (public common-word lists).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
    "es": ["el", "la", "los", "que", "y", "un", "es"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"],
}

_PUNCT_RE = r"[\.,;:!\?\"'\(\)\[\]\{\}]"


def bound(sub: Column, fn) -> Column:
    """Evaluate ``sub`` ONCE and feed it to ``fn`` as a lambda variable.

    Catalyst does no common-subexpression elimination across higher-order-
    function lambdas: an expression referenced both in a HOF argument (e.g.
    a ``sequence`` bound) and inside its lambda is re-evaluated per array
    element. Binding it as the element of a one-element array makes every
    reference a cheap lambda-variable lookup — for ``word_shingles`` this is
    ~9× per-row (regex split ran once per window instead of once per doc).
    """
    return F.get(F.transform(F.array(sub), fn), 0)


def tokens(col: Column) -> Column:
    """Whitespace tokenization after lower+trim; empty strings removed."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    return F.filter(toks, lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: maximal word-character runs plus
    standalone non-space symbols — the shape a BPE pre-tokenizer produces.
    RE2-safe regexes (no lookaround) so the SQL oracle matches exactly."""
    words = F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9_]+"), 0))
    symbols = F.size(F.regexp_extract_all(col, F.lit(r"[^\sa-zA-Z0-9_]"), 0))
    return words + symbols


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Word n-grams of ``col`` as array<string>, duplicates KEPT (unlike
    ``word_shingles``) — the repetition-analysis primitive: the gap between
    total and distinct n-grams is the repeated-content mass. Documents
    shorter than ``n`` tokens (but with ≥1) yield one n-gram of the full
    token string; TOKEN-LESS documents yield an empty array — the
    cross-engine totality the whitespace fuzz pinned (the DuckDB oracle's
    ``list_distinct`` silently drops the NULL its empty-slice transform
    produces, so a Spark sentinel ``''`` n-gram would make every empty
    document a spurious near-dup of every other)."""
    def windows(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
        return F.when(F.size(t) > 0, grams) \
                .otherwise(F.array().cast("array<string>"))

    return bound(tokens(col), windows)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``col`` as array<string>.

    Built with higher-order functions: slide a window of ``n`` tokens and
    join with spaces. Documents shorter than ``n`` tokens yield the full
    token string as a single shingle (so every doc with ≥1 token has ≥1
    shingle); token-less documents yield no shingles (see word_ngrams).
    """
    return F.array_distinct(word_ngrams(col, n))


def md5_prefix_hash(col: Column, seed: str = "", hex_chars: int = 8) -> Column:
    """Variable-width deterministic md5-prefix hash: first ``hex_chars``
    hex chars of md5(seed || value) — 4·``hex_chars`` bits — as a bigint
    (``hex_chars`` ≤ 15 so the value fits int64 exactly). Identical in any
    engine with md5 (DuckDB: ``CAST('0x' || substr(md5(seed || v), 1, n)
    AS BIGINT)``). The default 8 chars = 32 bits."""
    if not 1 <= hex_chars <= 15:
        raise ValueError(f"hex_chars must be in [1, 15] (got {hex_chars})")
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)),
                              1, hex_chars), 16, 10).cast("long")


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    total = F.length(col)
    punct = total - F.length(F.regexp_replace(col, _PUNCT_RE, ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def _stop_ratio_t(t: Column, lang: str = "en") -> Column:
    """Stopword ratio over an already-tokenized array."""
    marks = LANG_MARKERS[lang]
    n = F.size(t)
    hits = F.size(F.filter(t, lambda w: w.isin(marks)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Stopword tokens / total tokens for ``lang``'s marker set."""
    return bound(tokens(col), lambda t: _stop_ratio_t(t, lang))


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: rewards moderate length, penalizes
    punctuation soup and stopword-free (non-linguistic) text. Deterministic
    closed form so it is oracle-checkable:

        0.4 * min(len/500, 1) + 0.3 * (1 - min(punct_ratio*5, 1))
        + 0.3 * min(stopword_ratio*5, 1)
    """
    return quality_score_parts(col, stopword_ratio(col))


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (the language-ID heuristic's features):
    for each language, how many of its marker words appear as tokens."""
    t = tokens(col)
    return {
        lang: F.size(F.filter(t, lambda w: w.isin(marks)))
        for lang, marks in LANG_MARKERS.items()
    }


def _lang_pick_t(t: Column) -> Column:
    """Language-ID argmax over an already-tokenized array: the language
    whose marker set has the most token hits; zero-hit texts resolve to
    'und', and TIES resolve to the alphabetically first language among
    the tied (the strict-greater fold keeps the earlier winner) — the
    same deterministic argmax the SQL oracle encodes."""
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # deterministic evaluation order
        s = F.size(F.filter(t, lambda w: w.isin(LANG_MARKERS[lang])))
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def lang_id(col: Column) -> Column:
    """Heuristic language ID — see :func:`_lang_pick_t` for semantics."""
    return bound(tokens(col), _lang_pick_t)


def token_feature_struct(col: Column) -> Column:
    """ALL token-derived per-document features from ONE tokenization:
    ``struct(n_tokens int, lang_pred string, stop_ratio double)``.

    Why: ``token_count``/``lang_id``/``stopword_ratio`` are separate
    Column expressions, and higher-order functions are excluded from
    whole-stage codegen's subexpression elimination — a projection using
    all three re-runs the regex tokenizer three times per row (measured
    4.2× on the corpus_clean pipeline at 10× scale). This struct computes
    them inside one ``bound()`` lambda, so the tokenizer runs once.

    IMPORTANT: consume it through a Generate barrier —

        df.select(..., F.explode(F.array(token_feature_struct(col))).alias("s"))

    then reference ``s.n_tokens`` etc. A plain select would let
    CollapseProject inline the struct into every field reference and
    re-evaluate the whole pipeline per field; Generate's output is an
    attribute, which projection collapse cannot rewrite through."""
    def feats(t: Column) -> Column:
        return F.struct(F.size(t).alias("n_tokens"),
                        _lang_pick_t(t).alias("lang_pred"),
                        _stop_ratio_t(t).alias("stop_ratio"))

    return bound(tokens(col), feats)


def quality_score_parts(col: Column, stop_ratio: Column) -> Column:
    """:func:`quality_score` with the stopword ratio supplied externally
    (from :func:`token_feature_struct`) — term for term the SAME
    floating-point expression shape, so results are bit-identical."""
    length_term = F.least(F.length(col).cast("double") / 500.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop_term = F.least(stop_ratio * 5.0, F.lit(1.0))
    return 0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term


def dup_ngram_ratio(col: Column, n: int = 1) -> Column:
    """Repeated-content ratio (Gopher-style repetition signal): the
    fraction of word n-grams that are repeats of an earlier occurrence,
    ``1 − distinct/total`` (0 for empty text). ``n=1`` measures duplicate
    tokens, ``n≥2`` duplicated phrases — high values flag boilerplate and
    degenerate generations in a training-data pipeline."""
    def ratio(g: Column) -> Column:
        tot = F.size(g)
        dup = (tot - F.size(F.array_distinct(g))).cast("double")
        return F.when(tot > 0, dup / tot).otherwise(F.lit(0.0))

    src = tokens(col) if n == 1 else word_ngrams(col, n)
    return bound(src, ratio)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the whitespace/case-normalized text.
    Collapses runs of whitespace and case so trivially-reformatted copies
    collide — the exact-dedup key for operators.dedup.exact_dedup_normalized.
    """
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def token_chunks(col: Column, size: int, overlap: int = 0) -> Column:
    """Overlapping token-window chunks of a document, as array<string> —
    the RAG/pretraining document-splitting step.

    Chunk i covers tokens [i·step, i·step + size) with step = size −
    overlap; the final chunk may be shorter, a document of ≤ size tokens
    yields exactly one chunk (an empty document yields one empty chunk —
    filter upstream if that's unwanted). Pure higher-order functions: one
    tokenize per row (bound once), a sequence of chunk indices, a slice +
    join per chunk. No shuffle, no Python.
    """
    if not 0 <= overlap < size:
        raise ValueError(
            f"need 0 <= overlap < size (got size={size}, overlap={overlap})")
    step = size - overlap

    def chunks(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.when(n <= size, F.lit(1)).otherwise(
            F.ceil((n - size) / F.lit(step)).cast("int") + 1)
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(t, i * step + 1, size), " "))

    return bound(tokens(col), chunks)


# PII patterns for training-data redaction. Engine-portable subset only:
# character classes, bounded quantifiers, and \b — no lookaround, no
# backreferences — so Java regex (Spark) and RE2 (DuckDB, and most other
# engines) match IDENTICALLY; the cross-engine agreement is pinned by
# tests/test_pii_differential.py on crafted edge strings. Deliberately
# recall-oriented shapes (999.999.999.999 counts as an IP; a leading "("
# before a phone survives) — a scrubber over-redacts rather than leaks.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9 ()\-]{6,}[0-9]"

#: replacement order matters: emails first (their local parts may contain
#: digit runs), then IPs (dotted digits would otherwise be half-eaten by
#: the phone class, which has no '.'), then phones over what remains.
PII_REPLACEMENTS = [(PII_EMAIL, "<EMAIL>"), (PII_IP, "<IP>"),
                    (PII_PHONE, "<PHONE>")]


def redact_pii(col: Column) -> Column:
    """``col`` with emails, IPv4 addresses, and phone-number-shaped digit
    runs replaced by <EMAIL>/<IP>/<PHONE> tokens — the standard scrub
    stage of a training-data pipeline. Pure per-row regexp_replace chain,
    JVM-evaluated, no shuffle; NULL passes through."""
    out = col
    for pat, tok in PII_REPLACEMENTS:
        out = F.regexp_replace(out, pat, tok)
    return out


#: The Gopher rules' stop-word probe list (Rae et al. 2021, appendix A1.1:
#: "the, be, to, of, and, that, have, with") — a document must contain at
#: least GOPHER_MIN_STOP_HITS occurrences of these to count as natural
#: language rather than a token dump.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: Gopher document-filter thresholds in the integer units the struct
#: emits (ppm ratios, micro mean length) — kept as data so callers can
#: tighten/loosen per corpus without touching the expression.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_U = 3_000_000
GOPHER_MAX_MEAN_WORD_LEN_U = 10_000_000
GOPHER_MAX_SYMBOL_WORD_PPM = 100_000
GOPHER_MIN_ALPHA_WORD_PPM = 800_000
GOPHER_MIN_STOP_HITS = 2


def gopher_struct(col: Column) -> Column:
    """The word-level Gopher quality-rule signals (Rae et al. 2021, Table
    A1) from ONE tokenization pass, integer-exact so cross-engine oracles
    hash-match: ``struct(n_words bigint, mean_word_len_u bigint /*micro*/,
    symbol_word_ppm bigint, alpha_word_ppm bigint, n_stop_hits bigint)``.

    Ratios are floor-divided integer ppm (symbol-to-word uses Gopher's
    '#'-or-'...' symbol count over the RAW text; '...' counts
    non-overlapping occurrences, the same semantics ``replace`` gives any
    engine). The line-based rules (bullet starts, ellipsis line ends) are
    deliberately absent: they need a line structure the corpus schema does
    not carry — apply them upstream where raw page text still has
    newlines. Consume through a Generate barrier like
    :func:`token_feature_struct` (same CollapseProject hazard). Pure map,
    no shuffle, scan-bound at any scale."""
    def idiv(a: Column, b: Column) -> Column:
        # Exact positive integer floor-div usable inside HOF lambdas
        # (where F.expr("a div b") can't reach lambda variables): strip
        # the remainder first so the double division is exact — both
        # operands stay far under 2^53.
        return ((a - a % b) / b).cast("long")

    n_hash = F.length(col) - F.length(F.regexp_replace(col, "#", ""))
    n_dots = F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))
    symbols = n_hash.cast("long") + idiv(n_dots.cast("long"), F.lit(3))

    def feats(t: Column) -> Column:
        n_words = F.size(t).cast("long")
        char_sum = F.aggregate(t, F.lit(0).cast("long"),
                               lambda acc, w: acc + F.length(w))
        n_alpha = F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("long")
        n_stop = F.size(F.filter(t, lambda w: w.isin(GOPHER_STOPWORDS))) \
                  .cast("long")
        # NULL text propagates NULL signals; only genuinely token-less
        # (but non-NULL) documents report 0 ratios.
        guard = lambda num: F.when(n_words > 0, num) \
            .when(n_words.isNotNull(), F.lit(0).cast("long"))
        return F.struct(
            n_words.alias("n_words"),
            guard(idiv(char_sum * 1_000_000, n_words))
                .alias("mean_word_len_u"),
            guard(idiv(symbols * 1_000_000, n_words))
                .alias("symbol_word_ppm"),
            guard(idiv(n_alpha * 1_000_000, n_words))
                .alias("alpha_word_ppm"),
            n_stop.alias("n_stop_hits"))

    return bound(tokens(col), feats)


def gopher_passes(g: Column) -> Column:
    """The Gopher keep/drop conjunction over a :func:`gopher_struct`
    value — split out so pipelines can log per-rule failures from the
    same struct before filtering."""
    return ((g["n_words"] >= GOPHER_MIN_WORDS)
            & (g["n_words"] <= GOPHER_MAX_WORDS)
            & (g["mean_word_len_u"] >= GOPHER_MIN_MEAN_WORD_LEN_U)
            & (g["mean_word_len_u"] <= GOPHER_MAX_MEAN_WORD_LEN_U)
            & (g["symbol_word_ppm"] <= GOPHER_MAX_SYMBOL_WORD_PPM)
            & (g["alpha_word_ppm"] >= GOPHER_MIN_ALPHA_WORD_PPM)
            & (g["n_stop_hits"] >= GOPHER_MIN_STOP_HITS))


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-class PII match counts over the RAW text, each class counted
    independently and PRE-redaction — so counts may overlap across
    classes (a digit run inside an email's local part can also match
    PII_PHONE) and a class count can exceed what redact_pii actually
    replaces for that class (redaction is sequential, emails first; see
    PII_REPLACEMENTS). Use these as detection telemetry, not as an exact
    replacement ledger. {'n_emails', 'n_ips', 'n_phones'}, 0 for clean
    rows, NULL for NULL."""
    return {
        "n_emails": F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), 0)),
        "n_ips": F.size(F.regexp_extract_all(col, F.lit(PII_IP), 0)),
        "n_phones": F.size(F.regexp_extract_all(col, F.lit(PII_PHONE), 0)),
    }


#: Unicode cleanup tables (normalize_unicode). NUL is handled by its own
#: PRE-NFC stage mapping it to a space (UNICODE_NUL_RE): DuckDB's
#: nfc_normalize TRUNCATES the string at a NUL, so every engine must
#: remove it BEFORE normalizing — and mapping (not deleting) preserves
#: the token boundary ("a\\x00b" → "a b", never "ab"). DELETE: code
#: points removed outright — soft hyphen, the zero-width trio, word
#: joiner, and the BOM/ZWNBSP — the invisible characters that silently
#: fragment shingles and dedup groups. SPACE: code points mapped to
#: ASCII space — C0/C1 controls and every Unicode Zs/Zl/Zp separator
#: (mapped, not deleted, same boundary rationale as NUL). The oracle
#: side is generated from these same tables
#: (queries._duck_normalize_sql), so the two engines cannot drift apart
#: by edit.
UNICODE_NUL_RE = "\u0000"
UNICODE_DELETE_CPS = (0x00AD, 0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF)
UNICODE_SPACE_RANGES = ((0x0001, 0x001F), (0x007F, 0x007F),
                        (0x0080, 0x009F), (0x00A0, 0x00A0),
                        (0x1680, 0x1680), (0x2000, 0x200A),
                        (0x2028, 0x2029), (0x202F, 0x202F),
                        (0x205F, 0x205F), (0x3000, 0x3000))

UNICODE_DELETE_RE = "[" + "".join(chr(c) for c in UNICODE_DELETE_CPS) + "]"
UNICODE_SPACE_RE = "[" + "".join(
    chr(a) + ("-" + chr(b) if b > a else "")
    for a, b in UNICODE_SPACE_RANGES) + "]"


def normalize_unicode(col: Column) -> Column:
    """Unicode canonicalization for web text, BEFORE any shingling or
    fingerprinting: delete the invisible code points (zero-widths, soft
    hyphen, BOM, NUL), NFC-normalize (so ``e`` + combining acute and the
    precomposed ``é`` stop being distinct shingles), map controls and all
    Unicode space separators to ASCII space, collapse space runs, trim.
    Un-normalized text silently fragments dedup groups — two visually
    identical documents hash apart; this is the cleaning-stack stage that
    prevents it (strip_markup → normalize_unicode → redact_pii).

    NUL maps to a SPACE in a pre-NFC stage (not a delete: ``a\\x00b``
    keeps its token boundary as ``a b``) and deletion also runs BEFORE
    NFC in every engine: a zero-width joiner between a base and its
    combining mark blocks composition, and the point of this op is that
    the visible text wins; NUL must go first of all because
    DuckDB's ``nfc_normalize`` truncates at it. The NFC step is the one
    Python stage in the chain (Spark has no normalizer expression):
    an Arrow-batched ``pandas_udf`` — the regex stages stay JVM-side.
    NULL passes through. Output is pinned cross-engine against DuckDB's
    utf8proc ``nfc_normalize`` and fuzzed against Python ``unicodedata``
    (both implement UAX #15; normalization of assigned code points is
    stability-guaranteed across Unicode versions)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda t: None if t is None
                     else unicodedata.normalize("NFC", t))

    pre = F.regexp_replace(
        F.regexp_replace(col, UNICODE_NUL_RE, " "), UNICODE_DELETE_RE, "")
    spaced = F.regexp_replace(_nfc(pre), UNICODE_SPACE_RE, " ")
    return F.trim(F.regexp_replace(spaced, " +", " "))


#: Sentence boundary: a terminal-punctuation run followed by spaces.
#: Deliberately lookaround-free (RE2 oracle engines have none): the
#: boundary is MARKED by rewriting "run + spaces" to "run + \x1e" with a
#: capture backreference, then split on the marker — the abbreviation/
#: ellipsis long tail ("e.g. foo", "wait...") is out of contract, the
#: standard trade for a regex segmenter at corpus scale.
SENTENCE_BREAK_RE = r"([.!?]+) +"
_SENT_MARK = "\x1e"


def sentences(col: Column) -> Column:
    """Array of sentences of ``col``: break after each terminal-
    punctuation run that is followed by spaces, trim each piece, drop
    empties. Text without terminals is ONE sentence; NULL passes
    through. Pure per-row regex chain (JVM-side), mirrored exactly by
    the DuckDB oracle form (queries._duck_sentences_sql)."""
    marked = F.regexp_replace(col, SENTENCE_BREAK_RE, "$1" + _SENT_MARK)
    return F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: s != "")


def dedup_sentences(col: Column) -> Column:
    """First-occurrence sentence dedup WITHIN a document (the line-dedup
    member of the Gopher-style repetition family, at sentence
    granularity): the :func:`sentences` array with later duplicates
    removed, order preserved. One higher-order fold per row — the
    accumulator is the unique-prefix array, so cost is O(sentences²) per
    document with small counts by construction; no shuffle, no explode."""
    return F.aggregate(
        sentences(col),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(F.array_contains(acc, s), acc)
        .otherwise(F.concat(acc, F.array(s))))


#: Characters whose UTF-8-read-as-cp1252 mojibake form fix_mojibake
#: repairs: the Latin-1 Supplement accents/symbols plus the
#: General-Punctuation/currency set — the characters that actually occur
#: in web text and survive a cp1252 decode (code points whose UTF-8
#: bytes hit cp1252's five undefined slots, e.g. the right double quote
#: U+201D, are skipped by the table builder below: their mojibake form
#: cannot exist as decoded TEXT).
MOJIBAKE_CHARS = ("éèêëáàâäãíìîïóòôöõúùûüñçýÿ"
                  "ÉÈÊÁÀÂÃÄÍÓÔÖÕÚÜÑÇ"   # Ã/Â included: repairing a
                  # double-corrupted lead char peels exactly one layer
                  "°±µ·º¿¡§«»¢£¥©®¤"
                  "€—–‘’“”…•†‰™œžš")


def _mojibake_table() -> list[tuple[str, str]]:
    """(mojibake sequence, correct char) pairs, derived — not hand-typed —
    by running the corruption forward (``c.encode('utf-8')
    .decode('cp1252')``). Sorted longest-first then lexicographic for a
    deterministic chain; the sequences are mutually non-substring (2-byte
    UTF-8 mojibake starts Â/Ã, 3-byte starts â/Ê/Ë-class leads, and
    same-length forms differ in their tail), so chain order cannot change
    the result — the sort is for cross-engine replay, not correctness."""
    out = []
    for c in sorted(set(MOJIBAKE_CHARS)):
        try:
            bad = c.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue
        out.append((bad, c))
    out.sort(key=lambda p: (-len(p[0]), p[0]))
    return out


MOJIBAKE_TABLE = _mojibake_table()


def fix_mojibake(col: Column) -> Column:
    """Repair the dominant mojibake class in web corpora: UTF-8 text that
    was decoded as cp1252 somewhere upstream — "cafÃ©" repairs to
    "café", "â€”" to the em dash — via the pinned :data:`MOJIBAKE_TABLE`
    replace chain — literal (non-regex) replaces, JVM-evaluated, NULL
    passes through, text without mojibake is untouched (the sequences
    require lead bytes Â/Ã/â that legitimate text followed by those
    exact trailers essentially never produces; a false repair needs e.g.
    a literal 'Ã' directly followed by '©'). A pinned table rather than
    a re-encode round-trip keeps the repair expressible in ANY engine
    (the DuckDB oracle replays the identical chain), at the cost of only
    covering the curated character set — the ftfy-style full round-trip
    belongs in a pandas_udf if a corpus needs the long tail. Runs BEFORE
    :func:`normalize_unicode` in the cleaning stack (repair first, then
    canonicalize what the repair produced)."""
    out = col
    for bad, good in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


#: Tag-strip pattern and entity map for markup removal. Portable regex
#: subset (no lookaround/backrefs — Java and RE2 agree); the entity chain
#: is ORDERED: '&amp;' decodes LAST so '&amp;lt;' correctly yields '&lt;'
#: (double-encoded input stays encoded once, never over-decodes to '<').
MARKUP_TAG_RE = r"<[^>]*>"
MARKUP_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                   ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def strip_markup(col: Column) -> Column:
    """Markup-to-text extraction: drop HTML/XML tags, decode the common
    entities, collapse the whitespace runs the removals leave behind — the
    boilerplate-free-text step a web-corpus pipeline runs before any
    token-level analysis. Heuristic by design (a regex is not an HTML
    parser: CDATA/script bodies and malformed nesting pass through as
    text), which is the standard trade at corpus scale; pure per-row
    regexp chain, JVM-evaluated, no shuffle, NULL passes through."""
    out = F.regexp_replace(col, MARKUP_TAG_RE, " ")
    for ent, ch in MARKUP_ENTITIES:
        out = F.regexp_replace(out, ent, ch)
    return F.trim(F.regexp_replace(out, r"\s+", " "))
