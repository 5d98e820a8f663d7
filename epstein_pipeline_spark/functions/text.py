"""Text normalization, hashing, extraction, analysis columns and the
Gopher quality gates.

Parity contract: ``normalize_text_expr`` / ``py_normalize_text`` must
reproduce the reference's ``normalize_text``
(/root/reference/src/epstein_pipeline/utils/hashing.py:12-14):
``re.sub(r"\\s+", " ", text.lower().strip())`` — lowercase, strip,
collapse whitespace runs to single spaces. ``content_hash_expr``
mirrors ``content_hash`` (hashing.py:17-20): sha256 hex of the
normalized text.

Normalization, hashing, the analysis columns and the gates are SQL
expressions (JVM, codegen); the ``py_*`` twins are the byte-identity
oracles of the first two.
Extraction and OCR-noise cleaning exist only as the ``py_*`` twins —
the spec — which ``plans.pipeline.extract_stage`` runs in one
mapInArrow pass (a compiled chain for ASCII pages, the twins otherwise).

Note on regex engines: Python ``\\s`` is unicode-aware, Java's is
ASCII by default. We pass (?U) to make Java's \\s unicode-aware so the
two agree on non-ASCII whitespace (e.g. \\xa0).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex: (?U) makes \s match unicode whitespace like Python's re.
_JAVA_WS = r"(?U)\s+"
# Python str.strip() strips unicode whitespace; trim() only ASCII space.
# Collapsing runs first, then trimming single leading/trailing spaces,
# gives identical results.


def py_normalize_text(text: str) -> str:
    """Reference-identical normalization (hashing.py:12-14).

    ``" ".join(s.split())`` IS ``\\s+ -> " "`` plus strip: str.split(),
    str.strip() and re's str-mode ``\\s`` all use the same CPython
    Py_UNICODE_ISSPACE predicate, so the outputs are identical for
    every unicode input (property-tested incl. \\x1c-\\x1f and unicode
    spaces) — and the split/join path runs in C, measured 3.7x faster
    than the regex sub on web text."""
    return " ".join(text.lower().split())


def py_content_hash(text: str) -> str:
    """Reference-identical content hash (hashing.py:17-20)."""
    return hashlib.sha256(py_normalize_text(text).encode("utf-8")).hexdigest()


def normalize_text_expr(col: Column | str) -> Column:
    """Spark-SQL twin of py_normalize_text. JVM-side, codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    collapsed = F.regexp_replace(F.lower(c), _JAVA_WS, " ")
    # strip the (at most one) leading/trailing space left by collapsing
    return F.regexp_replace(collapsed, r"^ | $", "")


def content_hash_expr(col: Column | str) -> Column:
    """sha256 hex of normalized text — the exact-dedup key."""
    return F.sha2(normalize_text_expr(col), 256)


# ---------------------------------------------------------------------------
# OCR-noise cleaning (reference processors/chunker.py:26-29,381-388)
# ---------------------------------------------------------------------------

_PY_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
_PY_REPEAT = re.compile(r"(.)\1{9,}")
_PY_RULE = re.compile(r"^[\s\-_=~.*#]{4,}$", re.MULTILINE)
_PY_BLANKS = re.compile(r"\n{3,}")


def py_clean_ocr_noise(text: str) -> str:
    """Reference-shaped OCR noise cleanup: drop control chars, collapse
    10+ repeated chars to 3, drop decorative rule lines, cap blank runs."""
    text = _PY_CTRL.sub("", text)
    text = _PY_REPEAT.sub(lambda m: m.group(1) * 3, text)
    text = _PY_RULE.sub("", text)
    text = _PY_BLANKS.sub("\n\n", text)
    return text


# ---------------------------------------------------------------------------
# HTML -> text extraction (the "OCR" stage of our pages table)
# ---------------------------------------------------------------------------

_PY_SCRIPT = re.compile(r"(?is)<(script|style|nav|header|footer|title)[^>]*>.*?</\1>")
_PY_BLOCK_CLOSE = re.compile(r"(?i)</(p|div|h[1-6]|li|tr)>")
_PY_TAG = re.compile(r"(?s)<[^>]+>")

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def py_extract_text(html: bytes | str) -> str:
    """Deterministic HTML -> text: drop script/style/nav/header/footer
    subtrees, close block tags as newlines, strip remaining tags,
    unescape the 6 common entities, collapse blank runs, strip.

    This is the engine's stand-in for the reference's OCR fallback chain
    (processors/ocr.py:761-853): a pure, reproducible extract whose
    output is the byte-identical-text invariant per url.
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    text = _PY_SCRIPT.sub("", html)
    text = _PY_BLOCK_CLOSE.sub("\n", text)
    text = _PY_TAG.sub("", text)
    for ent, ch in _ENTITIES:
        text = text.replace(ent, ch)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    text = re.sub(r"\n{2,}", "\n\n", text)
    return text.strip()


def py_extract_normalize_batch(
    htmls: list,
) -> tuple[list, list, list]:
    """Per-doc (extracted_text, normalized_text, sha256_hex) for a
    batch of raw html values — the extract stage's whole per-doc
    chain in one call.

    PURE-ASCII byte inputs run through the compiled chain
    (functions/_native.extract_chain, measured ~4x the re twins on the
    bench corpus); everything else — non-ASCII, str, or no compiler —
    takes the python twins, which remain the spec. For ASCII, utf-8
    decode is the identity and every regex in the chain reduces to
    byte-automaton semantics, so the two paths are byte-identical
    (property-tested against each other in test_native_kernels)."""
    from epstein_pipeline_spark.functions import _native

    n = len(htmls)
    ext: list = [None] * n
    norm: list = [None] * n
    hsh: list = [None] * n
    ascii_idx: list[int] = []
    ascii_docs: list[bytes] = []

    def py_one(i, h):
        e = py_extract_text(h)
        t = py_normalize_text(py_clean_ocr_noise(e))
        ext[i], norm[i] = e, t
        hsh[i] = hashlib.sha256(t.encode("utf-8")).hexdigest()

    for i, h in enumerate(htmls):
        if h is None:
            continue
        if isinstance(h, (bytes, bytearray)) and h.isascii():
            ascii_idx.append(i)
            ascii_docs.append(bytes(h))
        else:
            py_one(i, h)
    if ascii_docs:
        r = _native.extract_chain(ascii_docs)
        if r is None:
            for i, h in zip(ascii_idx, ascii_docs):
                py_one(i, h)
        else:
            for i, eb, nb in zip(ascii_idx, r[0], r[1]):
                ext[i] = eb.decode("ascii")
                norm[i] = nb.decode("ascii")
                hsh[i] = hashlib.sha256(nb).hexdigest()
    return ext, norm, hsh


# ---------------------------------------------------------------------------
# Text analysis columns (training-data pipeline ops)
# ---------------------------------------------------------------------------

# tiny per-language stopword lists for the n-gram/stopword language
# heuristic — enough to separate en/de/fr deterministically.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"],
}


def token_count_expr(col: Column | str) -> Column:
    """Whitespace token count over normalized text."""
    return F.size(F.split(normalize_text_expr(col), " "))


def word_tokens_expr(col: Column | str) -> Column:
    """Normalized whitespace tokens as array<string>."""
    return F.split(normalize_text_expr(col), " ")


def bpe_ish_token_count_expr(col: Column | str) -> Column:
    """A BPE-ish token estimate: count of word/number/punct units via
    regex, the common pre-tokenization shape."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.filter(
            F.split(c, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
            lambda x: (x != "") & (x != " "),
        )
    )


def _stopword_ratio(tokens: Column, words: list[str]) -> Column:
    return F.size(F.array_intersect(F.array_distinct(tokens), F.array(*[F.lit(w) for w in words]))) / F.lit(
        len(words)
    )


def lang_id_expr(col: Column | str) -> Column:
    """Heuristic language ID: distinct-stopword hit ratio per language,
    argmax, 'und' (undetermined) when nothing matched.

    Score ties resolve in _STOPWORDS declaration order (en >= de >= fr)
    — the same first-wins CASE semantics as the ★lang_id oracle query;
    max-struct ordering would instead pick the lexicographically-last
    language name on ties."""
    tokens = word_tokens_expr(col)
    ratios = [(lang, _stopword_ratio(tokens, ws)) for lang, ws in _STOPWORDS.items()]
    guess = F.lit(ratios[-1][0])
    for i in range(len(ratios) - 2, -1, -1):
        lang, score = ratios[i]
        later = [s for _, s in ratios[i + 1 :]]
        later_max = later[0] if len(later) == 1 else F.greatest(*later)
        guess = F.when(score >= later_max, F.lit(lang)).otherwise(guess)
    best = F.greatest(*[s for _, s in ratios]) if len(ratios) > 1 else ratios[0][1]
    return F.when(best > 0, guess).otherwise(F.lit("und"))


def quality_score_expr(col: Column | str) -> Column:
    """Heuristic extraction-quality score in [0,1], mirroring the
    reference's OCR confidence blend (processors/ocr.py:80-118):
    0.40*printable_ratio + 0.30*word_length_score + 0.30*stopword_score.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c), F.lit(1))
    printable = (n - F.length(F.regexp_replace(c, r"[\x20-\x7e\s]", ""))) / n
    tokens = word_tokens_expr(c)
    avg_word = F.aggregate(tokens, F.lit(0), lambda acc, x: acc + F.length(x)) / F.greatest(
        F.size(tokens), F.lit(1)
    )
    # plausible mean word length 3..8 scores 1.0, decaying outside
    word_score = F.greatest(F.lit(0.0), F.lit(1.0) - F.abs(avg_word - F.lit(5.5)) / F.lit(5.5))
    stop_score = F.least(F.lit(1.0), _stopword_ratio(tokens, _STOPWORDS["en"]) * 2)
    return F.round(printable * 0.40 + word_score * 0.30 + stop_score * 0.30, 6)


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct char k-shingles of the normalized text as array<string>
    (reference _text_shingles, processors/dedup.py:98-103).

    SQL-expressible form used for small-scale oracle checks; the scale
    path hashes shingles inside the MinHash pandas UDF instead of
    materializing them.
    """
    norm = normalize_text_expr(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(k)),
        )
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_gate_exprs(norm: Column, toks: Column) -> dict[str, Column]:
    """The five Gopher gate booleans over pre-projected norm/toks
    columns (project them once per row — callers like gopher_gates and
    plans/curate reference materialized __norm/__toks columns so the
    normalize regex doesn't run per gate)."""
    n_words = F.size(toks)
    mean_wl = (F.length(norm) - (n_words - F.lit(1))).cast("double") / n_words
    sym_frac = (
        F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("...")))
        .cast("double")
        / n_words
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_words
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    return {
        "pass_word_count": (n_words >= 50) & (n_words <= 100_000),
        "pass_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "pass_symbol_ratio": sym_frac <= 0.1,
        "pass_alpha_words": alpha_frac >= 0.8,
        "pass_stopwords": stop_hits >= 2,
    }


def gopher_gates(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Gopher-rule document quality gates (Rae et al. 2021, §A.1.1):
    word count in [50, 100000], mean word length in [3, 10],
    symbol-to-word ratio (# / '...') <= 0.1, >= 80% of words contain
    an alphabetic character, >= 2 distinct stopwords present. Returns
    one boolean per gate plus the conjunction (``pass_all``) — the
    audit columns a curation pipeline filters on before training.

    All gates are per-row scalar/array expressions over the scan (no
    shuffle, whole-stage codegen); mean word length comes from the
    (chars, words) identity len(norm) = sum(len(word)) + (n_words-1)
    so no per-token fold runs."""
    norm = normalize_text_expr(text_col)
    d = docs.select(F.col(id_col), norm.alias("__norm")).withColumn(
        "__toks", F.split(F.col("__norm"), " ")
    )
    norm_c, toks_c = F.col("__norm"), F.col("__toks")
    gates = gopher_gate_exprs(norm_c, toks_c)
    n_words = F.size(toks_c)
    mean_wl = (F.length(norm_c) - (n_words - F.lit(1))).cast("double") / n_words
    pass_all = None
    for g in gates.values():
        pass_all = g if pass_all is None else (pass_all & g)
    return d.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        *[g.alias(name) for name, g in gates.items()],
        pass_all.alias("pass_all"),
    )
