"""Text-analysis column functions for large-scale corpus pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — language ID,
quality scoring, token counting, and document fingerprinting, the text ops a
100 TB training-data pipeline runs per document.

≈ the reference's text handling (``text_processor.py:6-60`` tokenize/patterns,
``data_normalizer.py:398-499`` keyword sensitivity scoring) made vectorized.
Every function has an ANSI-SQL twin used by the DuckDB oracle in
``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
FP_MOD = 1_000_000_007
FP_BASE = 131


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (empty tokens dropped)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish tokenization: runs of letters, runs of digits, or single
    punctuation — a stand-in for subword tokenizers at profiling time."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    sw = stopwords or STOPWORDS
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """0-1 heuristic quality: long enough, low punctuation noise, sane
    stopword density (≈ the reference's additive keyword scores,
    data_normalizer.py:398-421, recast for corpus quality)."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    sw = stopword_ratio(c)
    sw_ok = F.lit(1.0) - F.abs(sw - F.lit(0.15)) / F.lit(0.85)
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return F.round((len_ok + sw_ok + punct_ok) / 3.0, 6)


# Gopher quality-filter thresholds (Rae et al. 2021, table A1) — the
# word-level subset that applies to single-line corpora.  Every rule is an
# integer comparison (``3·n ≤ chars`` instead of ``chars/n ≥ 3``) so the
# DuckDB oracle is bit-identical: no float division anywhere.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3      # mean word length ∈ [3, 10]
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_PER_10_WORDS = 1   # symbol-to-word ratio ≤ 0.1
GOPHER_MIN_ALPHA_WORDS_5TH = 4       # ≥ 80% of words contain a letter
GOPHER_MIN_STOPWORD_KINDS = 2        # ≥ 2 distinct common function words


def gopher_flags(col: Column | str) -> dict[str, Column]:
    """The Gopher document-quality rules (Rae et al. 2021) as pure integer
    Column predicates over one whitespace tokenization — word-count bounds,
    mean-word-length bounds, symbol-to-word ratio (``#``/``...``), alphabetic
    word fraction, distinct-stopword presence — plus the conjunction
    ``keep``.  All comparisons are cross-multiplied integers (never a float
    ratio), and everything stays in whole-stage codegen: this is a
    scan-speed keep/drop decision over every document of a 100 TB corpus.
    Returns a dict of named int32 0/1 flag Columns (+ ``n_toks`` long)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks).cast("long")
    chars = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    hash_syms = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ell_syms = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    syms = (hash_syms + ell_syms.cast("long")).cast("long")
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    toks_l = tokens(F.lower(c))
    sw_arr = F.array([F.lit(s) for s in STOPWORDS])
    sw_kinds = F.size(F.filter(sw_arr, lambda s: F.exists(toks_l, lambda t: t == s)))
    flags = {
        "wc_ok": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mwl_ok": (chars >= F.lit(GOPHER_MIN_MEAN_WORD_LEN) * n)
        & (chars <= F.lit(GOPHER_MAX_MEAN_WORD_LEN) * n),
        "sym_ok": F.lit(10) * syms <= F.lit(GOPHER_MAX_SYMBOL_PER_10_WORDS) * n,
        "alpha_ok": F.lit(5) * alpha >= F.lit(GOPHER_MIN_ALPHA_WORDS_5TH) * n,
        "sw_ok": sw_kinds >= GOPHER_MIN_STOPWORD_KINDS,
    }
    out: dict[str, Column] = {"n_toks": n}
    keep = None
    for name, pred in flags.items():
        out[name] = pred.cast("int")
        keep = pred if keep is None else (keep & pred)
    out["keep"] = keep.cast("int")
    return out


def lang_id(col: Column | str) -> Column:
    """Tiny n-gram/stopword language heuristic: English if common English
    function words dominate. Deliberately simple and SQL-twin-able; real
    deployments swap in fastText via mapInPandas."""
    sw = stopword_ratio(col)
    return F.when(sw >= 0.05, F.lit("en")).otherwise(F.lit("unk"))


# Mojibake / encoding-damage detector: C0 control characters that never
# belong in clean text (everything below 0x20 except \t \n \r) plus the
# Unicode replacement character U+FFFD — the residue of a bad decode.
# Same discipline as functions/pii.py: the pattern is restricted to syntax
# where Java regex and RE2 agree (``\x{...}`` escapes work in both engines'
# character classes; ``�`` is Java-only), so the DuckDB oracle runs the
# literal same pattern.
ENCODING_ANOMALY_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFD}]"


def encoding_anomaly_count(col: Column | str) -> Column:
    """Number of encoding-anomaly characters (C0 controls / U+FFFD) in the
    string; 0 for NULL input. Pure JVM codegen — a validation engine scans
    every byte of a 100 TB corpus with this, so it must never leave
    whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.regexp_count(c, F.lit(ENCODING_ANOMALY_RE)), F.lit(0)
    )


def sensitivity_score(col: Column | str, weights: dict[str, float] | None = None) -> Column:
    """Additive keyword sensitivity score capped at 1.0 (≈ the reference's
    content sensitivity scoring, data_normalizer.py:398-421,434-454 — a
    per-keyword additive score — vectorized as rlike predicates)."""
    c = F.col(col) if isinstance(col, str) else col
    weights = weights or {"hash": 0.4, "scan": 0.3, "merge": 0.3}
    acc = F.lit(0.0)
    for kw, w in weights.items():
        acc = acc + F.when(c.rlike(rf"\b{kw}\b"), F.lit(w)).otherwise(F.lit(0.0))
    return F.round(F.least(acc, F.lit(1.0)), 6)


FILE_TYPE_BUCKETS = {
    "document": ["doc", "docx", "txt", "pdf", "rtf"],
    "spreadsheet": ["xls", "xlsx", "csv"],
    "presentation": ["ppt", "pptx"],
    "image": ["jpg", "jpeg", "png", "gif", "bmp"],
    "audio": ["mp3", "wav", "ogg"],
    "video": ["mp4", "avi", "mov", "wmv"],
    "archive": ["zip", "tar", "gz", "rar"],
    "executable": ["exe", "dll", "bat"],
}


def normalize_path(col: Column | str) -> Column:
    """Path with separators normalized to ``/`` (the reference accepts
    Windows-style paths, ``data_normalizer.py:231-234``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(c, F.lit("\\"), F.lit("/"))


def path_filename(col: Column | str) -> Column:
    """Last path segment of a normalized path (the whole string when there
    is no separator)."""
    return F.element_at(F.split(normalize_path(col), "/"), -1)


def path_extension(col: Column | str) -> Column:
    """Lower-cased extension of the filename; '' when the filename has no
    dot (``data_normalizer.py:241-243`` semantics)."""
    fn = path_filename(col)
    return F.when(
        fn.contains("."), F.lower(F.element_at(F.split(fn, r"\."), -1))
    ).otherwise(F.lit(""))


def file_type(ext_col: Column | str) -> Column:
    """Extension → coarse file-type bucket (P8; the reference's
    ``get_file_type`` table, ``data_normalizer.py:245-268``): one CASE chain,
    whole-stage codegen, no UDF. '' ⇒ 'unknown', unmatched ⇒ 'other'."""
    e = F.col(ext_col) if isinstance(ext_col, str) else ext_col
    out = F.when(e == "", F.lit("unknown"))
    for bucket, exts in FILE_TYPE_BUCKETS.items():
        out = out.when(e.isin(exts), F.lit(bucket))
    return out.otherwise(F.lit("other"))


def word_val(t: Column) -> Column:
    """Deterministic small integer per word — identical in Spark and ANSI SQL:
    ``length(w)*31 + ascii(substr(w,1,1))``."""
    return F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))


def fingerprint(col: Column | str) -> Column:
    """Rolling polynomial hash over words, mod 1e9+7 — a document
    fingerprint computable identically in any SQL engine (used for
    grouping/versioning, not cryptography)."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + word_val(t)) % FP_MOD,
    )
