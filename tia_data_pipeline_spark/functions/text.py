"""Text normalization & analysis functions.

Re-expresses the reference's row-at-a-time transform loop
(``posts_pipeline.py:29-44`` / ``comments_pipeline.py:52-78``) as
schema-driven Catalyst expressions, plus the text-analysis extension
tier (tokens, language ID, quality scoring, fingerprinting).

Pinned whitespace semantics
---------------------------
The reference's ``word_count`` is CPython ``len(content.split())``
(``posts_pipeline.py:41``): split on runs of whitespace, ignore
leading/trailing, 0 for empty/all-space. CPython splits on *unicode*
whitespace while Java regex ``\\s`` and RE2 ``\\s`` are ASCII-only and
disagree with each other on ``\\x0B``; we pin the portable superset
``[ \\t\\n\\r\\f\\x0B]`` (ASCII whitespace incl. vertical tab), which both
Java regex and RE2 interpret identically. Unit tests assert CPython
parity on ASCII inputs and document the unicode divergence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

def portable_round(col: Column, n: int) -> Column:
    """Cross-engine-deterministic rounding: ``floor(x·10ⁿ + 0.5)/10ⁿ``.

    ``round()`` on doubles is NOT portable — Spark rounds the exact
    binary expansion via BigDecimal HALF_UP (57.835 → 57.83, since the
    stored double is 57.83499…), while DuckDB yields 57.84. The floor
    form is a fixed sequence of IEEE ops, so identical inputs give
    identical outputs on any engine.
    """
    scale = 10**n
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)) / F.lit(float(scale))


def portable_round_sql(expr: str, n: int) -> str:
    scale = float(10**n)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


DAY_US = 86_400_000_000  # one day in microseconds

NANO = 1_000_000_000.0  # nano-unit integerization scale


def nano_int(expr: Column) -> Column:
    """``floor(expr · 1e9 + 0.5)::BIGINT`` — ONE definition of the
    nano-unit integerization every ln-family/ratio query uses before
    its order-independent sum (twin: :func:`nano_int_sql`).
    Single-sourced like epoch_day/dec19 so a Spark side and its oracle
    can never drift in scale or rounding form."""
    return F.floor(expr * F.lit(NANO) + F.lit(0.5)).cast("bigint")


def nano_int_sql(expr: str) -> str:
    """DuckDB twin of :func:`nano_int`."""
    return f"floor(({expr}) * 1000000000.0 + 0.5)::BIGINT"


def epoch_day(col: str = "ts") -> Column:
    """Integer epoch-day index of a timestamp column — FLOOR division,
    pre-1970-safe. Spark ``div`` and DuckDB ``//`` both truncate toward
    zero (the engine-wide truncating-division invariant), so the numerator is
    made exactly divisible first via the subtract-positive-modulus
    idiom; single-sourced here so no query re-types it with a plain
    ``%`` slip that would diverge only on negative epochs. Twin of
    :func:`epoch_day_sql`."""
    return F.expr(
        f"(unix_micros({col}) - pmod(unix_micros({col}), {DAY_US})) div {DAY_US}"
    )


def epoch_day_sql(col: str = "ts") -> str:
    """DuckDB twin of :func:`epoch_day` (same floor semantics via the
    subtract-positive-modulus idiom; ``epoch_us`` needs the explicit
    TIMESTAMP cast because the raw parquet µs-NTZ column otherwise
    loses the µs precision — see the events.ts invariant)."""
    e = f"epoch_us({col}::TIMESTAMP)"
    return f"(({e} - (({e} % {DAY_US}) + {DAY_US}) % {DAY_US}) // {DAY_US})"


def money_sum(col: Column, count_expr: Column | None = None, decimals: int = 4) -> Column:
    """Exact distributed sum of a money-like double: per-row scale to
    integer units (deterministic — inputs are ≤ `decimals`-dp values,
    so ·10ⁿ lands within 1e-9 of an integer, never near .5), sum as
    DECIMAL(38,0) (exact, order-independent, and matching DuckDB's
    HUGEINT sum(BIGINT) accumulator — a bare bigint sum would abort
    under ANSI past 2^63 where the oracle answers; the group-sum-is-
    unbounded invariant), then one double division. Immune to
    summation-order ulp drift AND to round() dialects."""
    scale = 10**decimals
    units = F.round(col * F.lit(scale)).cast("bigint")
    total = F.sum(units.cast("decimal(38,0)")).cast("double")
    if count_expr is not None:
        total = total / count_expr
    return total / F.lit(float(scale))


def money_sum_sql(expr: str, count_expr: str | None = None, decimals: int = 4) -> str:
    scale = 10**decimals
    base = f"sum(round(({expr}) * {scale})::BIGINT)::DOUBLE"
    if count_expr is not None:
        return f"({base} / {count_expr} / {float(scale)})"
    return f"({base} / {float(scale)})"


# One whitespace class shared by engine (Java regex) and oracle (RE2).
WS_CLASS = r"[ \t\n\r\f\x0B]"
# \z, never $: Java's $ also matches BEFORE a trailing line terminator
# (\n \r \u0085 \u2028 \u2029), so `WS+$` deletes an interior space
# in "a \u2028" on Spark while RE2's $ (end-of-text) does not —
# fuzz-caught; \z means end-of-text in BOTH engines.
_TRIM_RE = f"^{WS_CLASS}+|{WS_CLASS}+\\z"
_SPLIT_RE = f"{WS_CLASS}+"


def finite_value(col: Column) -> Column:
    """A measurement column with non-finite doubles (NaN, ±Inf)
    nullified — the 'corrupt measurement' posture: the ROW survives
    (counts/windows still see it) but the value contributes nothing.
    Under ANSI mode a NaN reaching ``round(v*100)::BIGINT`` would
    otherwise abort the whole query; DuckDB twin:
    :func:`finite_value_sql`. Finite values beyond cents-int64 range
    (|v| ≥ ~9.2e16/100) remain a data-contract violation that raises."""
    return F.when(~F.isnan(col) & (F.abs(col) != float("inf")), col)


def finite_value_sql(expr: str) -> str:
    return f"CASE WHEN isfinite({expr}) THEN {expr} END"


def dec19(col: str | Column) -> Column:
    """Promote an integer column to decimal(19,0) BEFORE multiplying —
    the engine-wide moment rule: per-term products in sums of
    squares/cross-products overflow int64 even when the inputs fit, so
    promotion must happen before the multiply, with the SUM accumulated
    as decimal(38,0). DuckDB twin: ``x::HUGEINT`` (bit-exact match for
    integer args). ONE definition so the precision can't drift per
    call site."""
    return (F.col(col) if isinstance(col, str) else col).cast("decimal(19,0)")


def strip_ws(col: Column) -> Column:
    """Strip leading/trailing ASCII whitespace (regex trim; ``F.trim``
    only strips 0x20 so it cannot reproduce ``str.split()``)."""
    return F.regexp_replace(col, _TRIM_RE, "")


def strip_ws_sql(expr: str) -> str:
    """DuckDB fragment equivalent to :func:`strip_ws` (RE2 needs the
    explicit ``'g'`` flag — DuckDB replaces first match by default)."""
    return f"regexp_replace({expr}, '^{WS_CLASS}+|{WS_CLASS}+\\z', '', 'g')"


def tokens(col: Column) -> Column:
    """Whitespace tokens of a string per the pinned semantics.

    Empty / all-whitespace / NULL input → empty array / NULL, matching
    CPython ``''.split() == []`` (Spark ``split('', pat)`` would yield
    ``['']`` — the guard removes that divergence).
    """
    stripped = strip_ws(col)
    return F.when(col.isNull(), F.lit(None).cast(T.ArrayType(T.StringType()))).otherwise(
        F.when(stripped == "", F.array().cast(T.ArrayType(T.StringType()))).otherwise(
            F.split(stripped, _SPLIT_RE)
        )
    )


def tokens_sql(expr: str) -> str:
    """DuckDB fragment equivalent to :func:`tokens`."""
    stripped = strip_ws_sql(expr)
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL "
        f"WHEN {stripped} = '' THEN [] "
        f"ELSE regexp_split_to_array({stripped}, '{WS_CLASS}+') END"
    )


def word_count(col: Column) -> Column:
    """``len(content.split())`` — reference ``posts_pipeline.py:41``,
    ``comments_pipeline.py:74``. NULL→NULL, ''→0. BIGINT for
    cross-engine schema stability (DuckDB ``len()`` is BIGINT)."""
    return F.size(tokens(col)).cast("bigint")


def word_count_sql(expr: str) -> str:
    """DuckDB fragment equivalent to :func:`word_count`."""
    return f"len({tokens_sql(expr)})"


def normalize_iso_timestamp(col: Column) -> Column:
    """ISO-8601 ``T`` → space normalization — reference
    ``posts_pipeline.py:38-39``: only 19-char ``YYYY-MM-DDTHH:MM:SS``
    strings are rewritten; fractional/offset forms pass through
    untouched (length ≠ 19)."""
    # \z: Java's $ would also accept a 20-char string ending in a line
    # terminator, violating the documented exactly-19-char contract
    is_bare_iso = col.rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\z")
    return F.when(is_bare_iso, F.regexp_replace(col, "T", " ")).otherwise(col)


def parse_iso_timestamp(col: Column) -> Column:
    """The typed form the new engine prefers: parse bare-ISO or
    space-separated second-precision strings into TimestampType.
    ``try_to_timestamp``: Spark 4 runs ANSI mode, where a non-matching
    format in plain ``to_timestamp`` raises instead of yielding NULL."""
    return F.coalesce(
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd HH:mm:ss")),
    )


def json_serialize_nested(df_schema: T.StructType, colname: str) -> Column:
    """``json.dumps`` of nested values — reference
    ``posts_pipeline.py:36-37``. Schema-driven: nested (struct/array/map)
    columns become compact JSON strings, scalars pass through — the
    typed analogue of the reference's runtime ``type()`` dispatch."""
    field = df_schema[colname]
    if isinstance(field.dataType, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(F.col(colname))
    return F.col(colname)


# --------------------------------------------------------------------------
# Extension tier: text analysis (SURVEY §2.4 ext-text-analysis)
# --------------------------------------------------------------------------

# BPE-ish word/number/punctuation tokenizer: letter runs, digit runs,
# single punctuation marks — a deterministic stand-in for subword
# counts. The whitespace exclusion spells out the pinned WS_CLASS
# characters rather than `\s`: Java regex and RE2 disagree on whether
# \s includes \x0B (the file-header invariant), so a bare \s here
# would make the q_token_bpe oracle diverge on vertical-tab input.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / punct marks)."""
    # regexp_count is Spark 3.5+; portable to DuckDB via the same pattern.
    return F.regexp_count(col, F.lit(BPE_RE)).cast("bigint")


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_RE}'))"


# Script ranges for the n-gram-free language-ID heuristic. The corpus's
# `documents.lang` is ground truth; the heuristic predicts from script
# character ratios, falling back to stopword hits for Latin-script langs.
_SCRIPT_RANGES: dict[str, str] = {
    "th": r"\x{0E00}-\x{0E7F}",  # Thai
    "zh": r"\x{4E00}-\x{9FFF}",  # CJK unified
    "ja": r"\x{3040}-\x{30FF}",  # Hiragana+Katakana
    "ko": r"\x{AC00}-\x{D7AF}",  # Hangul
    "ru": r"\x{0400}-\x{04FF}",  # Cyrillic
}

_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "id": ("yang", "dan", "di", "itu", "dengan"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}


def _script_count(col: Column, rng: str) -> Column:
    # regexp_count over a single-char class: one linear DFA pass, no
    # output string built (the regexp_replace form allocates a copy of
    # the document per script tested — 5× the garbage for the same count).
    return F.regexp_count(col, F.lit(f"[{rng}]"))


def _script_count_sql(expr: str, rng: str) -> str:
    return f"len(regexp_extract_all({expr}, '[{rng}]'))"


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Stopword occurrences counted on a pre-split token array — one
    split of the document feeds all languages, vs one full regex scan
    of the text per language. Membership per token is a 5-way literal
    compare, no backtracking."""
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def _stopword_hits_sql(toks_expr: str, words: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_expr}, t -> t IN ({lits})))"


# Both engines split on the literal single space — consecutive spaces
# yield empty tokens, which match no stopword, so the counts agree.
_LANG_TOKS = "string_split(lower({e}), ' ')"


def lang_id(col: Column) -> Column:
    """Heuristic language ID: dominant non-Latin script wins if >10% of
    chars; otherwise the Latin-script language with most stopword hits;
    'und' when nothing matches."""
    length = F.greatest(F.length(col), F.lit(1))
    toks = F.split(F.lower(col), " ")
    expr = F.lit("und")
    # Build from lowest priority upward: stopwords first, scripts override.
    best_hits = F.lit(0)
    for code, words in reversed(list(_STOPWORDS.items())):
        hits = _stopword_hits(toks, words)
        expr = F.when(hits > best_hits, F.lit(code)).otherwise(expr)
        best_hits = F.greatest(hits, best_hits)
    for code, rng in reversed(list(_SCRIPT_RANGES.items())):
        ratio = _script_count(col, rng) / length
        expr = F.when(ratio > 0.10, F.lit(code)).otherwise(expr)
    return expr


def lang_id_sql(expr: str) -> str:
    """DuckDB fragment mirroring :func:`lang_id` exactly (same priority
    order, same thresholds, same space-split token universe)."""
    length = f"greatest(length({expr}), 1)"
    toks = _LANG_TOKS.format(e=expr)
    out = "'und'"
    best = "0"
    for code, words in reversed(list(_STOPWORDS.items())):
        hits = _stopword_hits_sql(toks, words)
        out = f"CASE WHEN {hits} > {best} THEN '{code}' ELSE {out} END"
        best = f"greatest({hits}, {best})"
    for code, rng in reversed(list(_SCRIPT_RANGES.items())):
        ratio = f"({_script_count_sql(expr, rng)}::DOUBLE / {length})"
        out = f"CASE WHEN {ratio} > 0.10 THEN '{code}' ELSE {out} END"
    return out


def quality_score(col: Column) -> Column:
    """Document quality heuristic in [0,1]: rewards mid-length docs,
    penalizes punctuation-heavy and low-diversity text. All-arithmetic,
    mirrored 1:1 by :func:`quality_score_sql`; rounded to 4 dp so both
    engines hash identically."""
    n_chars = F.length(col).cast("double")
    n_words = word_count(col).cast("double")
    # regexp_count, not regexp_replace+length: the replace form
    # allocates a document-sized copy per row (see _script_count)
    n_punct = F.regexp_count(col, F.lit(r"[\.,;:!\?]")).cast("double")
    len_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(n_punct / F.greatest(n_chars, F.lit(1.0)) * 4.0, F.lit(1.0))
    avg_word_len = n_chars / F.greatest(n_words, F.lit(1.0))
    shape_score = F.when((avg_word_len >= 3.0) & (avg_word_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return portable_round(len_score * (1.0 - punct_penalty * 0.5) * shape_score, 4)


def quality_score_sql(expr: str) -> str:
    n_chars = f"length({expr})::DOUBLE"
    n_words = f"({word_count_sql(expr)})::DOUBLE"
    n_punct = f"len(regexp_extract_all({expr}, '[\\.,;:!\\?]'))::DOUBLE"
    len_score = f"least({n_words} / 100.0, 1.0)"
    punct_penalty = f"least({n_punct} / greatest({n_chars}, 1.0) * 4.0, 1.0)"
    avg_word_len = f"({n_chars} / greatest({n_words}, 1.0))"
    shape = f"(CASE WHEN {avg_word_len} >= 3.0 AND {avg_word_len} <= 12.0 THEN 1.0 ELSE 0.5 END)"
    return portable_round_sql(f"{len_score} * (1.0 - {punct_penalty} * 0.5) * {shape}", 4)


# Rolling polynomial fingerprint (ext: document fingerprinting).
# hash = fold(31*acc + codepoint) mod (2^31-1), over the raw chars.
_FP_MOD = 2_147_483_647


def doc_fingerprint(col: Column) -> Column:
    """Deterministic rolling-hash fingerprint of a document, computed
    with integer arithmetic portable across Spark and DuckDB (31x
    polynomial mod 2^31-1 over codepoints). Stays JVM-side via
    higher-order functions — no Python UDF."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % _FP_MOD,
    ).cast("bigint")


def doc_fingerprint_sql(expr: str) -> str:
    # NULL guard: the Spark fold yields NULL for NULL input, but
    # list_prepend(0, NULL) is [0] in DuckDB and would reduce to 0
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(regexp_split_to_array({expr}, ''), ch -> ascii(ch)::BIGINT)), "
        f"(acc, c) -> (acc * 31 + c) % {_FP_MOD}) END"
    )

# Kept-characters class for canonicalize: ASCII alnum + space + the
# Latin-1/Latin-Extended letter block. \x{...} escapes: the form BOTH
# Java regex and RE2 parse (RE2 silently mis-parses \uXXXX).
_CANON_KEEP = r"[^a-z0-9 \x{00c0}-\x{024f}]"


def canonicalize(col: Column) -> Column:
    """Text canonicalization for dedup: lowercase, strip punctuation,
    collapse whitespace runs, trim — the standard pre-hash normalize so
    near-identical boilerplate collapses to one exact-dup bucket."""
    lowered = F.lower(col)
    no_punct = F.regexp_replace(lowered, _CANON_KEEP, " ")
    collapsed = F.regexp_replace(no_punct, " +", " ")
    return F.regexp_replace(collapsed, "^ +| +\\z", "")


def canonicalize_sql(expr: str) -> str:
    """DuckDB fragment equivalent to :func:`canonicalize`."""
    lowered = f"lower({expr})"
    no_punct = f"regexp_replace({lowered}, '{_CANON_KEEP}', ' ', 'g')"
    collapsed = f"regexp_replace({no_punct}, ' +', ' ', 'g')"
    return f"regexp_replace({collapsed}, '^ +| +\\z', '', 'g')"


# --------------------------------------------------------------------------
# Gopher-style repetition/shape quality rules (Rae et al. 2021, public)
# --------------------------------------------------------------------------
# Thresholds follow the published Gopher filter; ratios are rounded to
# 4 dp BEFORE the threshold compare so both engines make the identical
# keep/drop decision at the boundary.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3

# \x{...} escapes: the one unicode form BOTH Java regex and RE2 parse.
_BULLET_RE = r"^[ \t]*[-*\x{2022}]"  # line starts with -, *, or •
# \r in the pre-anchor class: Java $ matches just BEFORE a trailing
# line terminator while RE2 (DuckDB) only matches end-of-text, so a
# CRLF document ("foo...\r\n" -> line "foo...\r") would diverge
# between the engines without it (empirically verified both ways).
_ELLIPSIS_RE = r"(\.\.\.|\x{2026})[ \t\r]*\z"  # line ends with ... or …
_SYMBOL_RE = r"#|\.\.\.|\x{2026}"  # hash or ellipsis occurrences


def gopher_rules(col: Column) -> tuple[dict[str, Column], Column]:
    """Gopher-style document shape metrics + keep flag, all as narrow
    codegen expressions (one token split, one line split, three linear
    regex passes — no Python, no shuffle).

    Returns ``(metrics, keep)``: metrics are ``n_words``,
    ``mean_word_len``, ``symbol_ratio``, ``bullet_frac``,
    ``ellipsis_frac``; ``keep`` is the conjunction of the published
    thresholds evaluated on the rounded metrics.
    """
    toks = tokens(col)
    n_words = F.size(toks).cast("bigint")
    words_div = F.greatest(n_words.cast("double"), F.lit(1.0))
    # chars-in-words = doc length minus whitespace, over the same
    # pinned whitespace class the tokenizer uses.
    chars_in_words = F.length(F.regexp_replace(col, WS_CLASS, "")).cast("double")
    mean_word_len = portable_round(chars_in_words / words_div, 4)
    symbol_ratio = portable_round(
        F.regexp_count(col, F.lit(_SYMBOL_RE)).cast("double") / words_div, 4
    )
    lines = F.split(col, "\n", -1)
    n_lines = F.greatest(F.size(lines).cast("double"), F.lit(1.0))
    bullet_frac = portable_round(
        F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE))).cast("double") / n_lines, 4
    )
    ellipsis_frac = portable_round(
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE))).cast("double") / n_lines, 4
    )
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac < GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac < GOPHER_MAX_ELLIPSIS_FRAC)
    )
    metrics = {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
    }
    return metrics, keep


def gopher_rules_sql(expr: str) -> tuple[dict[str, str], str]:
    """DuckDB fragments mirroring :func:`gopher_rules` exactly."""
    n_words = f"len({tokens_sql(expr)})"
    words_div = f"greatest(({n_words})::DOUBLE, 1.0)"
    chars_in_words = f"length(regexp_replace({expr}, '{WS_CLASS}', '', 'g'))::DOUBLE"
    mean_word_len = portable_round_sql(f"{chars_in_words} / {words_div}", 4)
    symbol_ratio = portable_round_sql(
        f"len(regexp_extract_all({expr}, '{_SYMBOL_RE}'))::DOUBLE / {words_div}", 4
    )
    lines = f"string_split({expr}, chr(10))"
    n_lines = f"greatest(len({lines})::DOUBLE, 1.0)"
    bullet_frac = portable_round_sql(
        f"len(list_filter({lines}, l -> regexp_matches(l, '{_BULLET_RE}')))::DOUBLE / {n_lines}",
        4,
    )
    ellipsis_frac = portable_round_sql(
        f"len(list_filter({lines}, l -> regexp_matches(l, '{_ELLIPSIS_RE}')))::DOUBLE / {n_lines}",
        4,
    )
    keep = (
        f"(({n_words}) >= {GOPHER_MIN_WORDS} AND ({n_words}) <= {GOPHER_MAX_WORDS} "
        f"AND {mean_word_len} >= {GOPHER_MIN_MEAN_WORD_LEN} "
        f"AND {mean_word_len} <= {GOPHER_MAX_MEAN_WORD_LEN} "
        f"AND {symbol_ratio} < {GOPHER_MAX_SYMBOL_RATIO} "
        f"AND {bullet_frac} < {GOPHER_MAX_BULLET_FRAC} "
        f"AND {ellipsis_frac} < {GOPHER_MAX_ELLIPSIS_FRAC})"
    )
    metrics = {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
    }
    return metrics, keep


# --------------------------------------------------------------------------
# PII redaction (emails / IPv4 / phone-like runs)
# --------------------------------------------------------------------------
# Patterns restricted to constructs Java regex and RE2 interpret
# identically: ASCII classes, bounded repetition — no backreferences,
# no lookaround (RE2 has neither), and NO \b: Java's \b is
# Unicode-aware (CJK counts as word chars) while RE2's is ASCII, so
# "漢字192.168.0.1" matched on DuckDB but not Spark (fuzz-caught).
# The IP guard is therefore explicit consuming character classes with
# capture groups restored in the replacement. The guard has NO \A/\z
# alternation: the text is padded with a sentinel char before the
# passes (see redact_pii), so a plain single-char class suffices —
# the round-5 alternation form ((\A|[^0-9.])..) backtracked at every
# position across six full-text passes and benched 6x slower.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"([^0-9.])((?:\d{1,3}\.){3}\d{1,3})([^0-9.])"
PII_PHONE_RE = r"\+\d{1,3}[- ]\d{2,4}[- ]\d{3,4}[- ]?\d{0,4}"
# Pad sentinel: must be consumable by NO pattern (not an email atom,
# not [0-9.], not '+', not the phone separators [- ]) so the pads
# always survive every replace and strip back off positionally; ','
# still satisfies the IP guard class, so an IP at position 0 / end of
# the original text is redacted without a \A|\z alternation.
_PII_PAD = ","


def redact_token_counts(redacted: Column, original: Column) -> dict[str, Column]:
    """Per-pattern redaction counts derived from the redacted text:
    tokens emitted, minus any literal token already present in the
    original, so the counts and the rewritten text always agree.
    Literal scans (no classes, no quantifiers) — the heavy patterns
    never run a second time for counting. Pass ``F.col`` references to
    an already-projected redacted column so the replace chain is
    computed once per row (CollapseProject keeps expensive expressions
    un-inlined)."""

    def _tok_count(token: str) -> Column:
        return (
            F.regexp_count(redacted, F.lit(token)) - F.regexp_count(original, F.lit(token))
        ).cast("bigint")

    return {
        "n_emails": _tok_count("<EMAIL>"),
        "n_ips": _tok_count("<IP>"),
        "n_phones": _tok_count("<PHONE>"),
    }


def redact_pii(col: Column) -> tuple[Column, dict[str, Column]]:
    """Redact emails, IPv4 addresses and international-format phone
    numbers, replacing each with a typed token. Returns
    ``(redacted_text, counts)`` (counts per
    :func:`redact_token_counts`). Replacement order — email, ip ×2,
    phone — is pinned so both engines rewrite identical bytes; the
    second IP pass catches an IP whose leading guard char was consumed
    by the previous IP match (two IPs separated by a single non-digit
    char leaked through the round-5 single-pass form) and is gated on
    the first pass having emitted a token at all.

    The email and phone patterns are gated behind exact single-char
    preconditions (``@`` / ``+`` must appear for a match to exist), so
    on a typical corpus the expensive scans skip most rows — a
    data-dependent shortcut that holds at any scale, stated identically
    on both engines. Linear RE2/Java regex passes over the document; at
    scale this is a narrow projection — no shuffle, no Python.
    """
    padded = F.concat(F.lit(_PII_PAD), col, F.lit(_PII_PAD))
    r = F.when(
        col.contains("@"), F.regexp_replace(padded, PII_EMAIL_RE, "<EMAIL>")
    ).otherwise(padded)
    # $1/$3 restore the consumed guard characters around the IP
    r = F.regexp_replace(r, PII_IPV4_RE, "$1<IP>$3")
    r = F.when(
        r.contains("<IP>"), F.regexp_replace(r, PII_IPV4_RE, "$1<IP>$3")
    ).otherwise(r)
    r = F.when(
        col.contains("+"), F.regexp_replace(r, PII_PHONE_RE, "<PHONE>")
    ).otherwise(r)
    redacted = F.substring(r, F.lit(2), F.length(r) - F.lit(2))
    return redacted, redact_token_counts(redacted, col)


def redact_token_counts_sql(redacted: str, original: str) -> dict[str, str]:
    """DuckDB fragments mirroring :func:`redact_token_counts`."""

    def _tok_count(token: str) -> str:
        return (
            f"(len(regexp_extract_all({redacted}, '{token}')) "
            f"- len(regexp_extract_all({original}, '{token}')))::BIGINT"
        )

    return {
        "n_emails": _tok_count("<EMAIL>"),
        "n_ips": _tok_count("<IP>"),
        "n_phones": _tok_count("<PHONE>"),
    }


def redact_pii_sql(expr: str) -> tuple[str, dict[str, str]]:
    """DuckDB fragments mirroring :func:`redact_pii`. The Spark side's
    ``contains`` gates are pure work-skipping (the preconditions are
    exact), so the oracle states the ungated chain — identical
    results, simpler SQL."""
    padded = f"('{_PII_PAD}' || {expr} || '{_PII_PAD}')"
    r = f"regexp_replace({padded}, '{PII_EMAIL_RE}', '<EMAIL>', 'g')"
    r = f"regexp_replace({r}, '{PII_IPV4_RE}', '\\1<IP>\\3', 'g')"
    r = f"regexp_replace({r}, '{PII_IPV4_RE}', '\\1<IP>\\3', 'g')"
    r = f"regexp_replace({r}, '{PII_PHONE_RE}', '<PHONE>', 'g')"
    redacted = f"substr({r}, 2, length({r}) - 2)"
    return redacted, redact_token_counts_sql(redacted, expr)
