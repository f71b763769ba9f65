"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All JVM-side Column expressions (whole-stage codegen; no Python in the hot
path) — these run per-document over trillions of rows, so every one of
them must survive a 100x scale-up as a pure map over the scan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .validate import to_col, violation_rows

# marker stopwords per language for the n-gram-ish heuristic language ID
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "nicht", "das"],
    "fr": ["le", "et", "la", "les", "des"],
    "es": ["el", "que", "los", "una", "por"],
    "zh": ["de", "shi", "le", "zai", "you"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                "that", "for", "on", "with", "as"]

# BPE-ish tokenization: word pieces, number runs, single punctuation marks
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col) -> Column:
    """Whitespace tokens (empty-string artifacts removed)."""
    return F.filter(F.split(to_col(col), r"\s+"), lambda t: t != "")


def token_count(col) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col) -> Column:
    c = to_col(col)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), F.lit(0)))


def lang_scores(col) -> dict[str, Column]:
    """Marker-token counts per language over ONE tokenization of the text.

    Token-membership counting (split once, then per-language `isin` filters)
    beats the padded-substring-replace formulation at scale: that one
    re-copied the full document once per marker word (25 string scans/row);
    this touches each token 25 times with tiny set probes.
    """
    toks = F.split(F.lower(to_col(col)), r"\s+")

    def member_fn(markers):
        # closure, not a default arg: pyspark HOF lambdas must have exactly
        # one parameter (a second one is parsed as the array-index variable)
        mk = tuple(markers)
        return lambda t: t.isin(*mk)

    return {
        lang: F.size(F.filter(toks, member_fn(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_guess(col) -> Column:
    """argmax over marker-word scores, deterministic tie-break by the
    declaration order of LANG_MARKERS; 'und' when nothing scored.

    The argmax is one `array_max` over (score, preference, lang) structs —
    lexicographic struct ordering gives the tie-break for free and each
    score expression is evaluated exactly once (a greatest+CASE chain would
    replicate every score subtree several times)."""
    scores = lang_scores(col)
    entries = [
        F.struct(scores[lg].alias("s"), F.lit(-i).alias("p"),
                 F.lit(lg).alias("lang"))
        for i, lg in enumerate(scores)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best.getField("s") > 0,
                  best.getField("lang")).otherwise(F.lit("und"))


def stopword_ratio(col) -> Column:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col) -> Column:
    c = to_col(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation density (the usual pretraining-filter features)."""
    c = to_col(col)
    len_ok = (F.length(c) >= 20) & (F.length(c) <= 10000)
    tok = token_count(c)
    mean_word_len = F.when(tok > 0, F.length(c) / tok).otherwise(F.lit(0.0))
    word_len_ok = (mean_word_len >= 2.5) & (mean_word_len <= 12.0)
    return (
        len_ok.cast("double") * 0.3
        + word_len_ok.cast("double") * 0.2
        + F.least(stopword_ratio(c) * 4, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio(c) * 5, F.lit(1.0))) * 0.2
    )


def normalized(col) -> Column:
    """Canonical text form: lowercased, punctuation stripped, whitespace
    collapsed — the shared normalization under :func:`fingerprint` and
    the transcript label-conflict check (formatting-only variants
    normalize equal)."""
    c = to_col(col)
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", ""), r" +", " "))


def fingerprint(col) -> Column:
    """Normalization fingerprint: sha256 of :func:`normalized` text —
    near-dup key for formatting-only variants."""
    return F.sha2(normalized(col), 256)


# Unanchored PII-ish detectors for curation scans. Deliberately simple
# alternation-free regexes so every engine (Java rlike, DuckDB RE2)
# counts identical occurrences; precision tuning belongs to the caller's
# patterns argument, not this default set.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,14}\d",
}


def pii_scan(df: DataFrame, text_col: str, id_col: str,
             patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-document PII-candidate counts (one column per pattern) plus a
    ``has_pii`` flag — pure JVM ``regexp_count`` projections over one
    scan; the standard pre-training privacy-filter feature."""
    patterns = patterns or PII_PATTERNS
    c = F.col(text_col)
    counts = [F.coalesce(F.regexp_count(c, F.lit(rx)), F.lit(0))
              .alias(f"n_{name}")
              for name, rx in patterns.items()]
    out = df.select(F.col(id_col), *counts)
    flag = balanced_or([F.col(f"n_{name}") > 0 for name in patterns])
    return out.withColumn("has_pii", flag)


def balanced_or(cols: list) -> Column:
    from ..plans.compiler import balanced_reduce
    return balanced_reduce(lambda a, b: a | b, cols)


# Encoding-damage (mojibake) indicators for web-corpus curation. The three
# signatures of a broken decode pipeline: the replacement character (a
# decoder already gave up), bare C1 controls (cp1252 bytes decoded as
# latin-1), and UTF-8 byte sequences decoded as latin-1/cp1252 — a 2-byte
# UTF-8 char surfaces as a lead in U+00C2-U+00DF followed by one trail
# char, a 3-byte char as a lead in U+00E0-U+00EF followed by two ("café"
# -> "cafÃ©", "'" -> "â€™"). Trail = U+0080-U+00BF (latin-1 decode) plus
# the cp1252 remap of the 0x80-0x9F bytes (curly quotes, euro, dashes).
# All classes are enumerated literal characters — no escapes, no
# metacharacters — so Java rlike and DuckDB RE2 count identical
# occurrences (the PII_PATTERNS rationale). Counts are per-pattern
# independent; a C1 control inside a double-encoded sequence counts in
# both columns by design.
_MOJIBAKE_TRAIL = ("".join(chr(c) for c in range(0x80, 0xC0))
                   + "€‚ƒ„…†‡ˆ"
                   + "‰Š‹ŒŽ‘’“"
                   + "”•–—˜™š›"
                   + "œžŸ")
MOJIBAKE_PATTERNS = {
    "replacement": "�",
    "c1_control": "[" + "".join(chr(c) for c in range(0x80, 0xA0)) + "]",
    "double_2byte": "[" + "".join(chr(c) for c in range(0xC2, 0xE0)) + "]"
                    + f"[{_MOJIBAKE_TRAIL}]",
    "double_3byte": "[" + "".join(chr(c) for c in range(0xE0, 0xF0)) + "]"
                    + f"[{_MOJIBAKE_TRAIL}]{{2}}",
}


def encoding_scan(df: DataFrame, text_col: str, id_col: str,
                  patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-document encoding-damage counts (one column per
    MOJIBAKE_PATTERNS entry) plus a ``has_mojibake`` flag — pure JVM
    ``regexp_count`` projections over one scan, the :func:`pii_scan`
    shape. NULL text yields zero counts and a false flag."""
    patterns = patterns or MOJIBAKE_PATTERNS
    c = F.col(text_col)
    counts = [F.coalesce(F.regexp_count(c, F.lit(rx)), F.lit(0))
              .alias(f"n_{name}")
              for name, rx in patterns.items()]
    out = df.select(F.col(id_col), *counts)
    flag = balanced_or([F.col(f"n_{name}") > 0 for name in patterns])
    return out.withColumn("has_mojibake", flag)


def dup_line_fraction(col) -> Column:
    """Fraction of non-unique lines (Gopher-style repetition filter):
    1 - distinct/total over newline-split lines; 0 for empty/NULL text."""
    c = to_col(col)
    lines = F.filter(F.split(c, r"\n"), lambda x: x != "")
    n = F.size(lines)
    return F.when(n > 0,
                  1.0 - F.size(F.array_distinct(lines)) / n) \
            .otherwise(F.lit(0.0))


def dup_word_fraction(col) -> Column:
    """Fraction of non-unique whitespace tokens; 0 for empty/NULL text."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(n > 0,
                  1.0 - F.size(F.array_distinct(toks)) / n) \
            .otherwise(F.lit(0.0))


def repetition_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition metrics in one staged projection (the
    tokenization is materialized once, same CollapseProject mechanics as
    :func:`profile_columns`)."""
    c = F.col(text_col)
    staged = df.select(
        F.col(id_col), c.alias("_text"),
        F.transform(tokens(c), lambda t: F.lower(t)).alias("_toksl"),
    )
    toksl = F.col("_toksl")
    n = F.size(toksl)
    dup_words = F.when(n > 0, 1.0 - F.size(F.array_distinct(toksl)) / n) \
                 .otherwise(F.lit(0.0))
    top = F.array_max(F.transform(F.array_distinct(toksl),
                                  lambda w: F.size(
                                      F.filter(toksl, lambda x: x == w))))
    top_frac = F.when(n > 0, top / n).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col),
        F.round(dup_line_fraction(F.col("_text")), 6).alias("dup_line_frac"),
        F.round(dup_words, 6).alias("dup_word_frac"),
        F.round(top_frac, 6).alias("top_word_frac"),
    )


_PROFILE_FIELDS = ("n_chars", "n_tokens", "n_tokens_bpe", "stopword_ratio",
                   "punct_ratio", "quality_score", "lang_guess", "fingerprint")


def profile_columns(df: DataFrame, text_col: str, id_col: str,
                    fields: dict[str, str] | None = None) -> DataFrame:
    """Staged one-pass text profile: the whitespace tokenization is computed
    ONCE in a lower projection and every metric derives from it.

    Higher-order array functions are CodegenFallback (interpreted) in
    Spark, so common-subexpression elimination never kicks in for them —
    the naive formulation re-splits the document for token count, stopword
    ratio, quality score and language ID separately (4+ full scans of every
    string per row). The two-level Project keeps one materialized token
    array per row; Catalyst's CollapseProject leaves multi-referenced
    non-cheap aliases in place.

    ``fields`` maps output-column name -> metric (default: all metrics
    under their own names).
    """
    fields = fields or {f: f for f in _PROFILE_FIELDS}
    bad = set(fields.values()) - set(_PROFILE_FIELDS)
    if bad:
        raise ValueError(f"unknown profile fields: {sorted(bad)}")
    c = F.col(text_col)
    staged = df.select(
        F.col(id_col), c.alias("_text"),
        tokens(c).alias("_toks"),
    ).select(
        F.col(id_col), F.col("_text"), F.col("_toks"),
        F.transform(F.col("_toks"), lambda t: F.lower(t)).alias("_toksl"),
        F.size(F.col("_toks")).alias("_ntok"),
        F.length(F.col("_text")).alias("_nchr"),
    )
    t, ntok, nchr = F.col("_text"), F.col("_ntok"), F.col("_nchr")
    toksl = F.col("_toksl")

    n_stop = F.size(F.filter(toksl, lambda x: x.isin(*EN_STOPWORDS)))
    stop_ratio = F.when(ntok > 0, n_stop / ntok).otherwise(F.lit(0.0))
    n_punct = nchr - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    p_ratio = F.when(nchr > 0, n_punct / nchr).otherwise(F.lit(0.0))

    def member_fn(markers):
        mk = tuple(markers)
        return lambda x: x.isin(*mk)

    entries = [
        F.struct(F.size(F.filter(toksl, member_fn(markers))).alias("s"),
                 F.lit(-i).alias("p"), F.lit(lg).alias("lang"))
        for i, (lg, markers) in enumerate(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*entries))
    lang = F.when(best.getField("s") > 0,
                  best.getField("lang")).otherwise(F.lit("und"))

    len_ok = (nchr >= 20) & (nchr <= 10000)
    mean_word_len = F.when(ntok > 0, nchr / ntok).otherwise(F.lit(0.0))
    word_len_ok = (mean_word_len >= 2.5) & (mean_word_len <= 12.0)
    quality = (
        len_ok.cast("double") * 0.3
        + word_len_ok.cast("double") * 0.2
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + (1.0 - F.least(p_ratio * 5, F.lit(1.0))) * 0.2
    )

    metric = {
        "n_chars": nchr,
        "n_tokens": ntok,
        "n_tokens_bpe": F.size(F.regexp_extract_all(t, F.lit(BPE_REGEX),
                                                    F.lit(0))),
        "stopword_ratio": F.round(stop_ratio, 6),
        "punct_ratio": F.round(p_ratio, 6),
        "quality_score": F.round(quality, 6),
        "lang_guess": lang,
        "fingerprint": fingerprint(t),
    }
    return staged.select(
        F.col(id_col),
        *[metric[src].alias(out) for out, src in fields.items()])


def profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-pass text profile per document (all metrics)."""
    return profile_columns(df, text_col, id_col)


# The eight "required word" stopwords of the Gopher quality filter
# (Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1).
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have",
                         "with")
_GOPHER_BULLETS = ("•", "‣", "▪", "-", "*")
_ELLIPSIS_REGEX = r"\.\.\.|…"


def gopher_gates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-rule quality gates (Rae et al. 2021 §A.1.1) — one row per
    document with each rule's measured value, its boolean gate, and the
    overall ``gopher_pass``:

    1. 50 <= word count <= 100,000
    2. 3 <= mean word length <= 10
    3. symbol-to-word ratio <= 0.1 (symbols: ``#`` and ellipsis)
    4. <= 90% of lines start with a bullet
    5. <= 30% of lines end with an ellipsis
    6. >= 80% of words contain at least one alphabetic character
    7. contains >= 2 of the eight required English words

    Pure JVM Column expressions, one scan, map-only (zero shuffles). The
    token and non-empty-line arrays are staged ONCE in a lower projection
    (the :func:`profile_columns` HOF-CSE discipline — higher-order array
    functions never common-subexpression-eliminate, so the naive form
    would re-split every document per rule). Line gates are vacuously
    true for documents with no non-empty lines; token-ratio gates fail
    for zero-token documents (so ``gopher_pass`` fails, matching rule 1).
    NULL text is treated as empty (the row is kept, every token gate
    fails) so the gate relation stays total over the corpus.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        F.col(id_col), c.alias("_text"),
        tokens(c).alias("_toks"),
        F.filter(F.transform(F.split(c, r"\n"), lambda l: F.trim(l)),
                 lambda l: l != "").alias("_lines"),
    ).select(
        F.col(id_col), F.col("_text"), F.col("_toks"), F.col("_lines"),
        F.transform(F.col("_toks"), lambda t: F.lower(t)).alias("_toksl"),
        F.size(F.col("_toks")).alias("_ntok"),
        F.size(F.col("_lines")).alias("_nline"),
    )
    t, toks, lines = F.col("_text"), F.col("_toks"), F.col("_lines")
    toksl, ntok, nline = F.col("_toksl"), F.col("_ntok"), F.col("_nline")

    sum_tok_len = F.aggregate(toks, F.lit(0).cast("long"),
                              lambda a, x: a + F.length(x))
    mean_word_len = F.when(ntok > 0, sum_tok_len / ntok).otherwise(F.lit(0.0))
    n_symbols = (F.length(t) - F.length(F.replace(t, F.lit("#")))
                 + F.size(F.regexp_extract_all(t, F.lit(_ELLIPSIS_REGEX),
                                               F.lit(0))))
    symbol_ratio = F.when(ntok > 0, n_symbols / ntok).otherwise(F.lit(0.0))
    bullet_frac = F.when(
        nline > 0,
        F.size(F.filter(lines, lambda l:
                        F.substring(l, 1, 1).isin(*_GOPHER_BULLETS))) / nline
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        nline > 0,
        F.size(F.filter(lines, lambda l:
                        l.endswith("...") | l.endswith("…"))) / nline
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        ntok > 0,
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / ntok
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        lambda w: F.array_contains(toksl, w)))

    g_wc = (ntok >= 50) & (ntok <= 100000)
    g_mwl = (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
    g_sym = (ntok > 0) & (symbol_ratio <= 0.1)
    g_bul = bullet_frac <= 0.9
    g_ell = ellipsis_frac <= 0.3
    g_alpha = (ntok > 0) & (alpha_frac >= 0.8)
    g_stop = stop_hits >= 2
    return staged.select(
        F.col(id_col),
        ntok.alias("word_count"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        g_wc.alias("g_word_count"),
        g_mwl.alias("g_mean_word_len"),
        g_sym.alias("g_symbol_ratio"),
        g_bul.alias("g_bullet_lines"),
        g_ell.alias("g_ellipsis_lines"),
        g_alpha.alias("g_alpha_words"),
        g_stop.alias("g_stopwords"),
        (g_wc & g_mwl & g_sym & g_bul & g_ell & g_alpha & g_stop)
        .alias("gopher_pass"),
    )


# rule name -> (gate column, measured column, message template, expected)
GOPHER_RULE_SPECS = {
    "word_count": ("g_word_count", "word_count",
                   "Must have 50 <= word count <= 100000",
                   (">= 50", "<= 100000")),
    "mean_word_len": ("g_mean_word_len", "mean_word_len",
                      "Must have 3 <= mean word length <= 10",
                      (">= 3", "<= 10")),
    "symbol_ratio": ("g_symbol_ratio", "symbol_ratio",
                     "Must have symbol-to-word ratio <= 0.1",
                     ("<= 0.1",)),
    "bullet_lines": ("g_bullet_lines", "bullet_line_frac",
                     "Must have <= 90% of lines starting with a bullet",
                     ("<= 0.9",)),
    "ellipsis_lines": ("g_ellipsis_lines", "ellipsis_line_frac",
                       "Must have <= 30% of lines ending with an ellipsis",
                       ("<= 0.3",)),
    "alpha_words": ("g_alpha_words", "alpha_word_frac",
                    "Must have >= 80% of words with an alphabetic character",
                    (">= 0.8",)),
    "stopwords": ("g_stopwords", "stopword_hits",
                  "Must contain >= 2 of the required English words",
                  (">= 2",)),
}


def gopher_violations(df: DataFrame, text_col: str, id_col: str, *,
                      rules: list[str] | None = None,
                      ruleset_name: str = "engine",
                      severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-gopher`` table check: one row per
    document per failing enabled Gopher rule. ``rules`` selects a
    subset of :data:`GOPHER_RULE_SPECS` names (default: all seven).

    Same plan as :func:`gopher_gates` plus one Generate: the per-rule
    structs are built in the gates projection and exploded — still
    map-only, zero shuffles, text never leaves the scan stage.
    """
    rules = list(GOPHER_RULE_SPECS) if rules is None else list(rules)
    bad = set(rules) - set(GOPHER_RULE_SPECS)
    if bad:
        raise ValueError(f"unknown gopher rules: {sorted(bad)}")
    gates = gopher_gates(df, text_col, id_col)
    structs = []
    for name in rules:
        gate_col, val_col, msg, expected = GOPHER_RULE_SPECS[name]
        structs.append(F.when(~F.col(gate_col), F.struct(
            F.lit(name).alias("rule"),
            F.concat(F.lit(msg + ": got "), F.col(val_col).cast("string"))
            .alias("message"),
            F.col(val_col).cast("string").alias("actual"),
            F.array(*[F.lit(e) for e in expected]).alias("expected"),
        )))
    v = F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull()))
    return violation_rows(
        gates.select(F.col(id_col), v.alias("_v")),
        row_id=F.col(id_col),
        constraint_id=F.concat(F.lit(f"gopher:{text_col}:"),
                               F.col("_v.rule")),
        keyword="gopher", instance_path=f"/{text_col}",
        schema_path=F.concat(F.lit(f"#/x-gopher/{text_col}/"),
                             F.col("_v.rule")),
        message=F.col("_v.message"), actual=F.col("_v.actual"),
        expected=F.col("_v.expected"), ruleset_name=ruleset_name,
        severity=severity)


def redact_pii(df: DataFrame, text_col: str, id_col: str,
               patterns: dict[str, str] | None = None) -> DataFrame:
    """Anonymization pass: every PII-candidate match replaced with a
    ``[NAME]`` placeholder — the repair-side companion of
    :func:`pii_scan` (scan counts, redact rewrites).

    Returns ``(id, text_redacted, n_<name> per pattern, n_redactions)``.
    Counts are measured on the ORIGINAL text (same numbers as
    ``pii_scan``); replacements apply sequentially in ``patterns`` order,
    so an earlier placeholder is never re-matched by a later pattern.
    Pure JVM ``regexp_count``/``regexp_replace`` over one scan, map-only —
    at corpus scale this is a rewrite job, so the output is meant to flow
    straight to a sink, not to join back. NULL text passes through NULL
    with zero counts (totality, like the other text operators).
    """
    patterns = patterns or PII_PATTERNS
    c = F.col(text_col)
    counts = [F.coalesce(F.regexp_count(c, F.lit(rx)), F.lit(0))
              .alias(f"n_{name}")
              for name, rx in patterns.items()]
    redacted = c
    for name, rx in patterns.items():
        redacted = F.regexp_replace(redacted, F.lit(rx),
                                    F.lit(f"[{name.upper()}]"))
    out = df.select(F.col(id_col), redacted.alias("text_redacted"), *counts)
    total = sum((F.col(f"n_{name}") for name in patterns), F.lit(0))
    return out.withColumn("n_redactions", total)


_C4_TERMINAL = (".", "!", "?", '"')


def c4_clean(df: DataFrame, text_col: str, id_col: str, *,
             min_words_per_line: int = 5,
             min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020 §2.2) — line filter +
    page gates, as one map-only projection:

    * keep only lines that end in a terminal punctuation mark
      (``. ! ? "``), have >= ``min_words_per_line`` words, and do not
      contain the word "javascript" (case-insensitive);
    * page gates on the result: >= ``min_sentences`` sentences in the
      cleaned text (terminal-punctuation count as the sentence proxy —
      documented approximation of C4's splitter), no ``{`` in the
      original (code page), no "lorem ipsum" (placeholder page).

    Returns ``(id, text_clean, n_lines_kept, n_lines_dropped,
    g_sentences, g_brace, g_lorem, page_keep)``; ``text_clean`` is the
    kept lines joined with newlines (empty string when nothing
    survives), the ``g_*`` booleans are the individual page gates
    (feeding :func:`c4_violations`). NULL text passes through NULL with
    zero counts, vacuously-true content gates, and ``page_keep = false``
    (the sentence gate fails). The 3-sentence-span dedup
    of C4 §2.2 is :func:`dedup.remove_dup_spans`' job (corpus-level, not
    per-page). Lines are staged once below the rules (HOF-CSE
    discipline); zero shuffles.
    """
    if min_words_per_line <= 0 or min_sentences <= 0:
        raise ValueError("min_words_per_line and min_sentences must be > 0")
    c = F.col(text_col)
    # lines from the NULL-coalesced text (empty array) so the count and
    # gate columns stay total; text_clean still surfaces NULL for NULL
    staged = df.select(
        F.col(id_col), c.alias("_text"),
        F.filter(F.transform(F.split(F.coalesce(c, F.lit("")), r"\n"),
                             lambda l: F.trim(l)),
                 lambda l: l != "").alias("_lines"),
    ).select(
        F.col(id_col), F.col("_text"), F.col("_lines"),
        F.filter(
            F.col("_lines"),
            lambda l: (F.substring(l, -1, 1).isin(*_C4_TERMINAL)
                       & (F.size(F.split(l, r"\s+")) >= min_words_per_line)
                       & ~F.lower(l).contains("javascript")),
        ).alias("_kept"),
    )
    t, lines, kept = F.col("_text"), F.col("_lines"), F.col("_kept")
    clean = F.array_join(kept, "\n")
    n_sentences = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"),
                                              F.lit(0)))
    g_sentences = n_sentences >= min_sentences
    # NULL text: content gates vacuously true (nothing to contain); the
    # sentence gate fails (empty clean text), so page_keep stays false
    g_brace = F.coalesce(~t.contains("{"), F.lit(True))
    g_lorem = F.coalesce(~F.lower(t).contains("lorem ipsum"), F.lit(True))
    return staged.select(
        F.col(id_col),
        F.when(t.isNull(), F.lit(None).cast("string"))
         .otherwise(clean).alias("text_clean"),
        F.size(kept).alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).alias("n_lines_dropped"),
        g_sentences.alias("g_sentences"),
        g_brace.alias("g_brace"),
        g_lorem.alias("g_lorem"),
        (g_sentences & g_brace & g_lorem).alias("page_keep"),
    )


# page-gate name -> (gate column, message, expected) for x-c4 violations
C4_GATE_SPECS = {
    "sentences": ("g_sentences",
                  "Must have >= {n} sentences after C4 line cleaning",
                  (">= {n} sentences",)),
    "brace": ("g_brace", "Must not contain a code brace", ("no '{{'",)),
    "lorem": ("g_lorem", "Must not contain placeholder text",
              ("no lorem ipsum",)),
}


def c4_violations(df: DataFrame, text_col: str, id_col: str, *,
                  min_words_per_line: int = 5, min_sentences: int = 3,
                  ruleset_name: str = "engine",
                  severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-c4`` table check: one row per document
    per failing C4 page gate (the :func:`gopher_violations` pattern).
    Line-level drops are a rewrite
    concern (:func:`c4_clean`), not violations — the page gates are what
    a lint pass should surface."""
    gates = c4_clean(df, text_col, id_col,
                     min_words_per_line=min_words_per_line,
                     min_sentences=min_sentences)
    structs = []
    for name, (gate_col, msg, expected) in C4_GATE_SPECS.items():
        m = msg.format(n=min_sentences)
        structs.append(F.when(~F.col(gate_col), F.struct(
            F.lit(name).alias("rule"),
            F.lit(m).alias("message"),
            F.array(*[F.lit(e.format(n=min_sentences))
                      for e in expected]).alias("expected"),
        )))
    v = F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull()))
    return violation_rows(
        gates.select(F.col(id_col), v.alias("_v")),
        row_id=F.col(id_col),
        constraint_id=F.concat(F.lit(f"c4:{text_col}:"), F.col("_v.rule")),
        keyword="c4", instance_path=f"/{text_col}",
        schema_path=F.concat(F.lit(f"#/x-c4/{text_col}/"),
                             F.col("_v.rule")),
        message=F.col("_v.message"), actual=None,
        expected=F.col("_v.expected"), ruleset_name=ruleset_name,
        severity=severity)


# ---------------------------------------------------------------------------
# character-bigram gibberish scoring (perplexity proxy without a model file)
# ---------------------------------------------------------------------------

def _normalize_chars(col) -> Column:
    """Letters+space normalization for the bigram language model:
    lowercase, non-letters collapsed to single spaces, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z]+", " "))


def _char_bigrams(col) -> Column:
    """Array of overlapping 2-char grams over an ALREADY-NORMALIZED
    string column (see :func:`_normalize_chars`) — empty array for
    strings shorter than 2 chars. Callers MUST stage the normalization
    in a lower projection: HOF lambdas are never CSE'd, so an inlined
    regexp_replace here would re-normalize the whole text once per
    bigram position — O(len^2) per document (measured 15.8 s -> 6 s on
    the scale-stress corpus).
    NOTE: ``sequence(1, 0)`` in Spark COUNTS DOWN, so the length guard is
    load-bearing, not defensive."""
    t = to_col(col)
    return F.when(
        F.length(t) >= 2,
        F.transform(F.sequence(F.lit(1), F.length(t) - 1),
                    lambda i: F.substring(t, i, 2))
    ).otherwise(F.array().cast("array<string>"))


def gibberish_scores(df: DataFrame, text_col: str, id_col: str,
                     *, reuse: bool = True) -> DataFrame:
    """Per-document ``(id, n_bigrams, avg_logp)`` under the corpus's OWN
    character-bigram distribution — a perplexity proxy needing no model
    file: real language reuses a small set of frequent transitions, so
    keyboard mash / mojibake / wrong-alphabet content scores far below
    the corpus mass (avg log-probability per bigram, natural log,
    rounded to 6). Documents with <2 normalized chars score NULL.

    Plan: ONE explode of (id, xxhash64(2-char gram)) — persisted
    (``reuse``) so model building and scoring read it once; the model is
    the driver-scale (≤ 27² rows) bigram-frequency relation, broadcast
    onto the exploded grams; scoring is one partial-aggregated
    groupBy(id). The persisted/shuffled gram key is an 8-byte long, not
    a string — the score is hash-invariant (grams are grouped, counted
    and joined, never read back), and a collision inside a ≤729-value
    domain is a ~2^-45 event. The normalized text is staged in its own
    projection (see :func:`_char_bigrams` — inlining it costs O(len^2)).
    Self-scoring means every observed gram is in the model (no smoothing
    term); to score against an EXTERNAL reference corpus, build the
    model relation there and join it here instead — the plan is
    identical."""
    from .dedup import _persist, _track
    grams = (df.select(F.col(id_col).alias("id"),
                       _normalize_chars(F.col(text_col)).alias("_nt"))
               .select("id", F.explode(_char_bigrams("_nt")).alias("_bg"))
               .select("id", F.xxhash64("_bg").alias("bg")))
    if reuse:
        grams = _persist(grams)
    counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_t"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "bg", F.log(F.col("_n") / F.col("_t")).alias("_logp"))
    scored = (grams.join(F.broadcast(model), "bg")
                   .groupBy("id")
                   .agg(F.count(F.lit(1)).alias("n_bigrams"),
                        F.round(F.avg("_logp"), 6).alias("avg_logp")))
    out = (df.select(F.col(id_col).alias("id"))
             .join(scored, "id", "left")
             .select(F.col("id").alias(id_col), "n_bigrams", "avg_logp"))
    return _track(out, grams)


def gibberish_violations(df: DataFrame, text_col: str, id_col: str, *,
                         min_logp: float, ruleset_name: str = "engine",
                         severity: str = "warning") -> DataFrame:
    """Violation rows for documents scoring below ``min_logp`` under
    :func:`gibberish_scores`
    — the ``x-gibberish`` declarative gate. Unscorable documents (<2
    normalized chars or NULL) never violate here: emptiness/shortness is
    minLength's finding, not a language-model one."""
    from .dedup import _track
    scored = gibberish_scores(df, text_col, id_col)
    bad = scored.where(F.col("avg_logp") < min_logp)
    return _track(violation_rows(
        bad, row_id=F.col(id_col), constraint_id=f"gibberish:{text_col}",
        keyword="gibberish", instance_path=f"/{text_col}",
        schema_path=f"#/x-gibberish/{text_col}",
        message=f"Must read as language: avg bigram logp >= {min_logp:g}",
        actual=F.col("avg_logp"), expected=[f">= {min_logp:g}"],
        ruleset_name=ruleset_name, severity=severity), scored)


# ---------------------------------------------------------------------------
# Unicode hygiene: mojibake scoring, NFC normalization, double-UTF-8 repair
# (round 3). Web crawls are full of UTF-8 bytes decoded as Latin-1 once
# ("naÃ¯ve") and unnormalized combining sequences that explode
# vocabularies. SCORING that damage is encoding_scan's job (above, pure
# JVM); these two REPAIR it: double-UTF-8 un-mangling and canonical
# normalization, Arrow-batched (Python's unicodedata/codec machinery —
# there is no JVM-side NFC expression in Spark), map-only, text never
# shuffles.
# ---------------------------------------------------------------------------

def fix_double_utf8(s: str) -> str:
    """Repair one round of UTF-8-bytes-decoded-as-Latin-1 ('naÃ¯ve' ->
    'naïve'); returns the input unchanged when the reverse trip does not
    decode (i.e. the text was not actually double-encoded — legitimate
    'Ã' words survive). cp1252's 0x80-0x9F block is mapped through
    latin-1 byte identity first so 'â€™'-style punctuation repairs too."""
    try:
        return s.encode("latin-1").decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return s


def normalize_text(df: DataFrame, text_col: str, id_col: str, *,
                   form: str = "NFC",
                   fix_mojibake: bool = False) -> DataFrame:
    """(id, text_norm, changed): canonical unicode normalization
    (NFC/NFKC/NFD/NFKD via unicodedata) with optional double-UTF-8
    repair FIRST (repair then normalize — the repaired bytes are what
    normalization should see). Arrow-batched map-only stage; the only
    Python in the plan is the normalization itself, which Spark has no
    JVM expression for."""
    import unicodedata
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            if fix_mojibake:
                v = fix_double_utf8(v)
            return unicodedata.normalize(form, v)
        return s.map(one)

    # stage the UDF result once (the repo's HOF/UDF-CSE discipline — two
    # norm(c) references would cross to Python twice)
    staged = df.select(F.col(id_col).alias("id"),
                       F.col(text_col).alias("_orig"),
                       norm(F.col(text_col)).alias("text_norm"))
    return staged.select(
        "id", "text_norm",
        (~F.col("text_norm").eqNullSafe(F.col("_orig"))).alias("changed"))


def zipf_fit(df: DataFrame, text_col: str, *, top_k: int = 500) -> DataFrame:
    """Corpus-health check: least-squares fit of the token
    frequency-vs-rank spectrum in log-log space (Zipf's law; natural text
    sits near slope -1 with r2 close to 1 — a boilerplate-flooded or
    machine-generated corpus bends away from it; used as a distribution
    sanity alongside gibberish/perplexity gates).

    One explode + groupBy(token) shuffle (map-side combine) builds the
    spectrum; the fit uses only the ``top_k`` most frequent tokens via
    orderBy().limit() = TakeOrderedAndProject, so no global sort and the
    rank window runs over a bounded k-row relation (the tail of the
    spectrum is count-1 noise that swamps the regression, hence top-k by
    construction, not as a concession). Output: one row with n_fit (<=
    top_k), top_mass (rows covered by the fitted tokens), slope,
    intercept, r2 of ln(count) ~ ln(rank).
    """
    if top_k < 2:
        raise ValueError("top_k must be >= 2")
    c = F.col(text_col)
    toks = df.select(F.explode(tokens(F.lower(c))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()) \
                .limit(top_k)
    win = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = top.withColumn("rank", F.row_number().over(win))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.sum("cnt").alias("top_mass"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"))


# deterministic syllable heuristic: a syllable is a maximal vowel-group
# run ([aeiouy]+) — the classic Flesch approximation that needs no
# dictionary, is regex-expressible in both Spark and any SQL oracle, and
# is applied to the WHOLE lowercased text at once (tokens are separated
# by non-vowel whitespace, so the per-word sum equals the global count)
_SYLLABLE_REGEX = r"[aeiouy]+"
_SENTENCE_REGEX = r"[.!?]+"


def readability(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Flesch reading ease from three regex counts:
    ``206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)``.

    Quality gate for training corpora: machine-generated or boilerplate
    text drifts to the extremes (telegraphic fragments score > 100,
    run-on legalese goes negative), so the score complements the
    stopword/punctuation gates with a sentence-structure signal. Natural
    prose sits roughly in [30, 90].

    Map-only, pure-JVM (three regexp counts per row, no UDF, no
    shuffle). Sentence count is clamped to >= 1 (a fragment with no
    terminal punctuation is one sentence, not a division by zero);
    documents with zero words report NULL score rather than a made-up
    figure, and NULL text reports NULL counts throughout (F.size would
    otherwise surface its legacy -1 sentinel as a word count)."""
    c = F.col(text_col)
    n_words = F.when(c.isNotNull(),
                     token_count(c).cast("double"))
    n_sents = F.when(c.isNotNull(), F.greatest(
        F.regexp_count(c, F.lit(_SENTENCE_REGEX)), F.lit(1))
        .cast("double"))
    n_syll = F.when(c.isNotNull(), F.size(
        F.regexp_extract_all(F.lower(c), F.lit(_SYLLABLE_REGEX),
                             F.lit(0))).cast("double"))
    score = (F.lit(206.835) - F.lit(1.015) * (n_words / n_sents)
             - F.lit(84.6) * (n_syll / n_words))
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.when(n_words > 0, score).alias("flesch"))


def lexical_diversity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document type-token ratio + hapax fraction over lowercased
    whitespace tokens: (id, n_tokens, n_types, n_hapax, ttr,
    hapax_ratio).

    Low TTR flags templated/repetitive documents the repetition gates
    may miss (distinct lines but a tiny vocabulary); an unusually HIGH
    hapax fraction flags gibberish (every token unique). One explode +
    (id, token) hash aggregate — the shuffle carries token-count keys,
    never text — then a per-id rollup. Documents with no tokens produce
    no row (nothing to measure; pair with a required/minLength check for
    presence policing)."""
    c = F.col(text_col)
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.lower(c))).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("cnt"))
    return per_tok.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("ttr"),
        F.round(F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
                / F.count(F.lit(1)), 6).alias("hapax_ratio"))


def heaps_fit(df: DataFrame, text_col: str, id_col: str, *,
              n_points: int = 100) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: ``V(N) ~ K * N^beta`` — the
    corpus-level companion to :func:`zipf_fit` (natural text sits near
    beta in [0.4, 0.6]; a boilerplate-flooded corpus saturates early
    (beta -> 0), machine-generated noise grows linearly (beta -> 1)).

    Scale shape: vocabulary growth needs a cumulative count of first
    token occurrences in document order — naively a global window over
    all documents. Instead the id axis is quantized into ``n_points``
    range buckets (via one broadcast max-id scalar): per-bucket token
    totals and first-occurrence counts come from two hash aggregates
    whose shuffles carry (bucket)/(token) keys only, and the cumulative
    window then runs over an <= n_points-row relation — the same
    bounded-boundary-relation pattern as the bucketed global window in
    operators/sequence.py. The fit regresses ln V on ln N over the
    sample points; output one row (n_points_fit, beta, k, r2)."""
    if n_points < 2:
        raise ValueError("n_points must be >= 2")
    c = F.col(text_col)
    mx = df.agg((F.max(F.col(id_col).try_cast("long")) + 1).alias("_mx"))
    # NULL/uncastable ids are ABSENT (the engine's NULL rule; try_cast,
    # not cast — ANSI mode would otherwise throw on a malformed id) —
    # without the filter their NULL bucket expression would fall to
    # F.least's null-skipping arm and silently pile every such doc into
    # the LAST bucket, corrupting the fit
    toks = (df.select(F.col(id_col).try_cast("long").alias("_id"),
                      F.explode(tokens(F.lower(c))).alias("tok"))
              .where(F.col("_id").isNotNull()))
    # clamp BOTH ends: a negative castable id would otherwise yield a
    # negative bucket that prepends a spurious point to the cumulative
    # window and skews the fit
    bucket = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.floor(F.col("_id") * n_points / F.col("_mx")),
                F.lit(n_points - 1))).cast("long").alias("bucket")
    # per-bucket token totals
    n_tok = (toks.crossJoin(F.broadcast(mx))
                 .groupBy(bucket)
                 .agg(F.count(F.lit(1)).alias("n_toks")))
    # per-bucket NEW-vocabulary counts: a token is new in the bucket of
    # its first occurrence (min id over the token's postings)
    first = toks.groupBy("tok").agg(F.min("_id").alias("_id"))
    n_new = (first.crossJoin(F.broadcast(mx))
                  .groupBy(bucket)
                  .agg(F.count(F.lit(1)).alias("n_new")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    cum = (n_tok.join(n_new, "bucket", "full_outer")
                .fillna({"n_toks": 0, "n_new": 0})
                .withColumn("n_cum", F.sum("n_toks").over(w))
                .withColumn("v_cum", F.sum("n_new").over(w))
                .where((F.col("n_cum") > 0) & (F.col("v_cum") > 0)))
    x = F.log(F.col("n_cum").cast("double"))
    y = F.log(F.col("v_cum").cast("double"))
    return cum.agg(
        F.count(F.lit(1)).alias("n_points_fit"),
        F.round(F.regr_slope(y, x), 6).alias("beta"),
        F.round(F.exp(F.regr_intercept(y, x)), 6).alias("k"),
        F.round(F.regr_r2(y, x), 6).alias("r2"))


def readability_violations(df: DataFrame, text_col: str, id_col: str, *,
                           lo: float = 0.0, hi: float = 121.0,
                           ruleset_name: str = "engine",
                           severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-readability`` table check: documents
    whose Flesch reading ease (:func:`readability`) falls outside
    ``[lo, hi]``. Both extremes are quality signals: telegraphic fragments
    score far above 100, run-on machine legalese goes negative.

    Documents with a NULL score (no words / NULL text) do NOT violate —
    presence is ``required``/``minLength``'s job. Map-only, zero
    shuffles, same plan as :func:`readability` plus the filter."""
    scored = readability(df, text_col, id_col)
    out_of_range = (F.col("flesch") < float(lo)) \
        | (F.col("flesch") > float(hi))
    return violation_rows(
        scored.where(F.col("flesch").isNotNull() & out_of_range),
        row_id=F.col(id_col), constraint_id=f"readability:{text_col}",
        keyword="readability", instance_path=f"/{text_col}",
        schema_path=f"#/x-readability/{text_col}",
        message=F.concat(F.lit(f"Must have Flesch reading ease in "
                               f"[{lo:g}, {hi:g}]: got "),
                         F.round("flesch", 2).cast("string")),
        actual=F.round("flesch", 6), expected=[f">= {lo:g}", f"<= {hi:g}"],
        ruleset_name=ruleset_name, severity=severity)


def tfidf_keywords(df: DataFrame, text_col: str, id_col: str, *,
                   top_k: int = 5, min_df: int = 2,
                   max_df_frac: float = 0.5) -> DataFrame:
    """Per-document top-``top_k`` TF-IDF keywords:
    (id, rank, term, tf, df, score) — the cheap document tagger used for
    corpus browsing, topic-drift eyeballing, and weak labels.

    score = tf * ln(N / df) over lowercased whitespace tokens, with the
    standard df band: terms in fewer than ``min_df`` docs are too rare
    to be a tag (typos, ids), terms in more than ``max_df_frac`` of docs
    carry no information (stopwords fall out here without a list). Ties
    break by term asc so ranks are engine-stable.

    Dataflow: one explode + (id, term) aggregate for tf (map-side
    combined), a (term) aggregate for df joined back (AQE broadcasts the
    vocab-sized relation for ordinary corpora), then a per-doc window
    top-k — partitioned by id, so no global sort. Shuffles carry
    (id, term) pairs; N comes from one broadcast scalar."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    c = F.col(text_col)
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.lower(c))).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.where(c.isNotNull()).agg(
        F.count(F.lit(1)).alias("_n"))
    scored = (tf.join(dfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .where((F.col("df") >= int(min_df))
                       & (F.col("df") <= F.col("_n") * float(max_df_frac)))
                .withColumn("score",
                            F.round(F.col("tf")
                                    * F.log(F.col("_n") / F.col("df")), 6)))
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= top_k)
                  .select(F.col("id"), "rank", "term", "tf", "df",
                          "score"))
