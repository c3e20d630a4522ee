"""Projection / filter / per-row transform operators (SURVEY.md §2.2).

All pure Spark SQL expressions — no UDFs — so every operator runs
JVM-side inside whole-stage codegen and pushes down through Catalyst.

Reference parity citations are to /root/reference (semantics only; the
implementation is Spark-first):
- P1  canonical alignment      Data_Cleaning/format_alignment.py:4-29
- P2  citation filter          Data_Cleaning/citation_filter.py:23-26
- P3  title whitespace         Data_Cleaning/text_cleaning.py:20-22
- P4  abstract cleanse chain   Data_Cleaning/text_cleaning.py:25-50
- P5  authors cleanse          Data_Cleaning/text_cleaning.py:53-61
- P6  fields_of_study clean    Data_Cleaning/fields_of_study_clean.py:16-21
- P7  clean_list (bounded)     Data_Enhancement/build_simple_dataset.py:50-75
- P8  safe casts               Data_Enhancement/bulid_final_dataset.py:84-130
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P3 — whitespace normalization

def normalize_whitespace(col: Column) -> Column:
    """``re.sub(r'\\s+', ' ', s).strip()`` (text_cleaning.py:22)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


# P4 — the abstract cleanse chain, regexes and order exactly as the
# reference applies them (text_cleaning.py:28-47): inline math, display
# math, \cmd{...}, bare \cmd, HTML entities, non-ASCII → space,
# whitespace collapse + strip.
CLEANSE_STEPS: tuple[tuple[str, str], ...] = (
    (r"\$.*?\$", ""),
    (r"\$\$.*?\$\$", ""),
    (r"\\[a-zA-Z]+\{.*?\}", ""),
    (r"\\[a-zA-Z]+\s*", ""),
    (r"&[a-zA-Z]+;", ""),
    (r"[^\x00-\x7F]+", " "),
)


def cleanse_text(col: Column) -> Column:
    out = col
    for pattern, repl in CLEANSE_STEPS:
        out = F.regexp_replace(out, pattern, repl)
    return normalize_whitespace(out)


def cleanse_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`cleanse_text` (regexp_replace needs 'g')."""
    out = expr
    for pattern, repl in CLEANSE_STEPS:
        sql_pat = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# P5 — authors cleanse: drop nulls, strip, drop empties, keep order.

def clean_string_array(col: Column) -> Column:
    stripped = F.transform(col, lambda x: F.trim(x.cast("string")))
    return F.filter(stripped, lambda x: x.isNotNull() & (x != F.lit("")))


# P6 — fields_of_study normalize: strip → drop empty → Title Case →
# dedup. The reference materializes a *set* (fields_of_study_clean.py:18
# uses a set comprehension, so order is incidental); we define the
# canonical output as sorted to make the semantics deterministic.

def normalize_label_array(col: Column) -> Column:
    cleaned = clean_string_array(col)
    return F.array_sort(F.array_distinct(F.transform(cleaned, F.initcap)))


# P7 — clean_list: str-cast, strip, *order-preserving* dedup, cap at n.

def bounded_distinct_list(col: Column, max_len: int) -> Column:
    cleaned = clean_string_array(col)
    deduped = F.filter(
        cleaned, lambda x, i: F.array_position(cleaned, x) == i + F.lit(1)
    )
    return F.slice(deduped, 1, max_len)


def bounded_distinct_list_sql(expr: str, max_len: int) -> str:
    """DuckDB twin (1-based lambda index; list_position = first index)."""
    cleaned = f"list_filter(list_transform({expr}, _x -> trim(_x)), _x -> _x IS NOT NULL AND _x <> '')"
    return (
        f"list_slice(list_filter({cleaned}, (_x, _i) -> "
        f"list_position({cleaned}, _x) = _i), 1, {max_len})"
    )


# P8 — safe casts: None on failure, with a regex "first number in the
# string" rescue (bulid_final_dataset.py:84-130). try_cast keeps this
# ANSI-mode safe.

def safe_int(col: Column) -> Column:
    direct = F.trim(col.cast("string")).try_cast("bigint")
    rescued = F.nullif(
        F.regexp_extract(col.cast("string"), r"[-+]?\d+", 0), F.lit("")
    ).try_cast("bigint")
    return F.coalesce(direct, rescued)


def safe_int_sql(expr: str) -> str:
    return (
        f"coalesce(try_cast(trim(CAST({expr} AS VARCHAR)) AS BIGINT), "
        f"try_cast(nullif(regexp_extract(CAST({expr} AS VARCHAR), '[-+]?\\d+', 0), '') AS BIGINT))"
    )


def safe_float(col: Column) -> Column:
    direct = F.trim(col.cast("string")).try_cast("double")
    rescued = F.nullif(
        F.regexp_extract(col.cast("string"), r"[-+]?\d*\.?\d+", 0), F.lit("")
    ).try_cast("double")
    return F.coalesce(direct, rescued)


def safe_float_sql(expr: str) -> str:
    return (
        f"coalesce(try_cast(trim(CAST({expr} AS VARCHAR)) AS DOUBLE), "
        f"try_cast(nullif(regexp_extract(CAST({expr} AS VARCHAR), '[-+]?\\d*\\.?\\d+', 0), '') AS DOUBLE))"
    )


# P1 — canonical schema alignment: fixed column list, missing/null
# scalars default to '' and arrays to [] (format_alignment.py:22-29).

def align_schema(
    df: DataFrame,
    string_fields: list[str],
    array_fields: list[str],
    int_fields: list[str] | None = None,
) -> DataFrame:
    cols: list[Column] = []
    existing = set(df.columns)
    for f_name in string_fields:
        base = F.col(f_name).cast("string") if f_name in existing else F.lit(None).cast("string")
        cols.append(F.coalesce(base, F.lit("")).alias(f_name))
    for f_name in int_fields or []:
        base = safe_int(F.col(f_name)) if f_name in existing else F.lit(None).cast("bigint")
        cols.append(F.coalesce(base, F.lit(0)).alias(f_name))
    for f_name in array_fields:
        base = (
            F.col(f_name).cast("array<string>")
            if f_name in existing
            else F.lit(None).cast("array<string>")
        )
        cols.append(F.coalesce(base, F.array().cast("array<string>")).alias(f_name))
    return df.select(*cols)


# P2 — threshold filter (citation_filter.py:23-26): missing counts are
# treated as 0 (reference uses .get(field, 0)); string counts such as
# "12 citations" go through safe_float, never an ANSI cast that fails
# the job.

def threshold_filter(df: DataFrame, field: str, min_value: float = 0) -> DataFrame:
    return df.filter(F.coalesce(safe_float(F.col(field)), F.lit(0.0)) >= F.lit(min_value))


def tokens(col: Column) -> Column:
    """lower + whitespace-split tokenization (strict_deduplication.py:54).

    Splitting an empty string yields [] (not ['']) to match
    ``''.split()`` in Python.
    """
    normalized = normalize_whitespace(F.lower(col))
    return F.filter(F.split(normalized, " "), lambda x: x != F.lit(""))


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split(trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g')), ' '), "
        f"_x -> _x <> '')"
    )


# ---------------------------------------------------------------------------
# HTML text extraction (web-corpus staple: strip markup before any
# quality/dedup stage). Fixed regexp chain, identical in the SQL twin —
# order matters: script/style BODIES go first (their content is not
# text), then remaining tags, then entity decodes, then whitespace.

HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?is)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
    # named + NUMERIC entity forms (decimal &#39; and hex &#x27;, any
    # case, leading zeros allowed) — the numeric forms are what real
    # crawls carry and they must not survive into dedup keys
    (r"(?i)&nbsp;|&#0*160;|&#x0*a0;", " "),
    (r"(?i)&lt;|&#0*60;|&#x0*3c;", "<"),
    (r"(?i)&gt;|&#0*62;|&#x0*3e;", ">"),
    (r"(?i)&quot;|&#0*34;|&#x0*22;", "\""),
    (r"(?i)&#0*39;|&#x0*27;|&apos;", "'"),
    # LAST: earlier would double-decode &amp;lt; (and &amp;#39;)
    (r"(?i)&amp;|&#0*38;|&#x0*26;", "&"),
)


def html_strip(col: Column) -> Column:
    """Markup-to-text extraction: drop script/style/comment bodies,
    strip remaining tags, decode the common entities (&amp; last so
    double-encoded entities decode exactly one level), collapse
    whitespace. One projection — fuses into the same codegen pass as
    the rest of the cleanse chain."""
    out = col
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return normalize_whitespace(out)


def html_strip_sql(expr: str) -> str:
    """DuckDB twin of :func:`html_strip` (same patterns, same order,
    global replacement)."""
    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        sql_pat = pat.replace("'", "''")
        sql_rep = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{sql_rep}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
