"""URL hygiene operators for web-crawl corpora.

In Common-Crawl-style pipelines URL canonicalization runs BEFORE
content dedup (the same page arrives as http/https, with and without
tracking params, fragments, default ports, trailing slashes — exact
content-hash dedup then does the rest), and per-registered-domain caps
bound any one site's share of the corpus (C4/Gopher-era practice).

All transforms are pure string/array expressions (regexp + split +
filter + join) with byte-identical DuckDB twins — one scan-projection,
no shuffle, whole-stage-codegen friendly at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import psl

# scheme://host[:port] prefix (before any path/query/fragment)
_PRE_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form:

    1. fragment dropped;
    2. scheme+host lowercased (path/query case preserved — paths are
       case-sensitive on most servers);
    3. default ports ``:80``/``:443`` stripped;
    4. ``utm_*`` tracking params removed via split→filter→rejoin on
       the query string (exact, order-preserving — no iterated-regex
       incompleteness on consecutive params);
    5. a single trailing slash stripped from non-root paths;
    6. an emptied query string drops its ``?``.

    Column-only expression; chain it ahead of content-hash dedup.
    """
    u = F.regexp_replace(url, r"#.*$", "")  # 1. fragment
    pre = F.regexp_extract(u, _PRE_RE, 0)
    rest = F.substring(u, F.length(pre) + 1, F.lit(1 << 30))
    pre = F.lower(pre)  # 2. scheme+host case
    # 3. default ports — only the port that matches the SCHEME is
    # default (http://h:443 and https://h:80 point at real non-default
    # ports and must survive canonicalization distinct)
    pre = F.regexp_replace(pre, r"^(http://[^:/]*):80$", "$1")
    pre = F.regexp_replace(pre, r"^(https://[^:/]*):443$", "$1")
    path = F.regexp_replace(rest, r"\?.*$", "")
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    # 4. utm_* params out, others kept in order
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.startswith("utm_"),
    )
    newq = F.array_join(kept, "&")
    # 5. trailing slash on non-root path
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    return F.concat(
        pre,
        path,
        F.when(F.length(newq) > 0, F.concat(F.lit("?"), newq)).otherwise(F.lit("")),
    )


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` (same step order, same
    patterns, same split→filter→rejoin param handling)."""
    u = f"regexp_replace({expr}, '#.*$', '')"
    pre = f"regexp_extract({u}, '{_PRE_RE}', 0)"
    rest = f"substring({u}, length({pre}) + 1)"
    cpre = (
        f"regexp_replace(regexp_replace(lower({pre}),"
        f" '^(http://[^:/]*):80$', '\\1'), '^(https://[^:/]*):443$', '\\1')"
    )
    path = f"regexp_replace({rest}, '\\?.*$', '')"
    query = (
        f"CASE WHEN contains({rest}, '?')"
        f" THEN regexp_replace({rest}, '^[^?]*\\?', '') ELSE '' END"
    )
    kept = (
        f"list_filter(string_split({query}, '&'),"
        f" _p -> len(_p) > 0 AND NOT starts_with(_p, 'utm_'))"
    )
    newq = f"array_to_string({kept}, '&')"
    cpath = (
        f"CASE WHEN length({path}) > 1 AND ends_with({path}, '/')"
        f" THEN substring({path}, 1, length({path}) - 1) ELSE {path} END"
    )
    return (
        f"({cpre} || {cpath} ||"
        f" CASE WHEN length({newq}) > 0 THEN '?' || {newq} ELSE '' END)"
    )


def registered_domain(url: Column) -> Column:
    """Last two dot-labels of the host — the ZERO-DATA approximation of
    the per-site cap key. Wrong on multi-label public suffixes (it
    lumps every ``*.co.uk`` site into one ``co.uk`` bucket); use
    :func:`registered_domain_psl` — the production key — unless the
    corpus is known to be generic-TLD only."""
    host = F.regexp_extract(url, r"://([^:/?#]+)", 1)
    return F.lower(F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))


def registered_domain_sql(expr: str) -> str:
    host = f"regexp_extract({expr}, '://([^:/?#]+)', 1)"
    return f"lower(regexp_extract({host}, '([^.]+\\.[^.]+)$', 1))"


def registered_domain_psl(url: Column) -> Column:
    """Registrable domain of a URL per the Public Suffix List
    (vendored snapshot; see ``functions/psl.py``): ``example.co.uk``
    stays ``example.co.uk``, wildcard/exception rules honored, NULL
    when the host IS a public suffix. The production ``cap_per_domain``
    key — still a pure zero-shuffle column expression (the rule arrays
    constant-fold)."""
    return psl.registered_domain_psl(psl.host_of(url))


def registered_domain_psl_sql(expr: str) -> str:
    """DuckDB twin of :func:`registered_domain_psl` (same vendored
    snapshot)."""
    return psl.registered_domain_psl_sql(psl.host_of_sql(expr))


def cap_per_domain(
    df: DataFrame, domain_col: str, order_cols: list[Column], cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per domain (deterministic: lowest by
    ``order_cols`` first) — one keyed window, the standard bound on any
    single site's corpus share."""
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(*order_cols)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


# --- robots.txt / crawl politeness (RFC 9309) ------------------------
# A compliant corpus builder must honor the Robots Exclusion Protocol:
# crawls land with per-domain robots.txt payloads, and every candidate
# URL needs an allow/deny verdict before its content may enter the
# corpus. Two pieces: a pure-Python parser (grammar work, runs in the
# same Arrow mapInPandas lane as the codecs) and a DECLARATIVE
# admission operator (billions of URLs x millions of domains is a
# domain-equi join + a per-URL window — never a Python loop).


def parse_robots_full(text: str) -> dict:
    """Parse robots.txt per RFC 9309: returns a dict with ``rules``
    (list of (user_agent lowercased, allow bool, pattern)),
    ``sitemaps`` (list of URLs), and ``delays`` (list of
    (user_agent lowercased, seconds float) from the de-facto
    Crawl-delay extension — group-scoped exactly like Allow/Disallow,
    non-numeric values dropped). Grammar handled: comments, blank
    lines, case-insensitive field names, consecutive user-agent lines
    sharing one group, a user-agent line after rules starting a NEW
    group, empty Disallow (= no restriction, dropped), unknown fields
    ignored. Pattern semantics ('*', trailing '$') are the MATCHER's
    job — patterns pass through verbatim."""
    if text is None:
        raise ValueError("robots.txt payload is None")
    rules: list[tuple[str, bool, str]] = []
    sitemaps: list[str] = []
    delays: list[tuple[str, float]] = []
    group_uas: list[str] = []
    group_open = False  # collecting consecutive user-agent lines
    for raw in str(text).splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        field, sep, value = line.partition(":")
        if not sep:
            continue  # malformed line: RFC says ignore
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not group_open:
                group_uas = []
                group_open = True
            group_uas.append(value.lower())
        elif field in ("allow", "disallow"):
            group_open = False
            if not group_uas:
                continue  # rule before any group: ignored per RFC
            if not value:
                continue  # empty (dis)allow: no restriction
            for ua in group_uas:
                rules.append((ua, field == "allow", value))
        elif field == "crawl-delay":
            group_open = False
            if not group_uas:
                continue  # delay before any group: ignored
            try:
                seconds = float(value)
            except ValueError:
                continue  # non-numeric delay: dropped
            for ua in group_uas:
                delays.append((ua, seconds))
        elif field == "sitemap":
            if value:
                sitemaps.append(value)
        else:
            group_open = False  # unknown field ends the UA run
    return {"rules": rules, "sitemaps": sitemaps, "delays": delays}


def parse_robots(text: str):
    """Back-compat view of :func:`parse_robots_full`: (rules,
    sitemaps)."""
    parsed = parse_robots_full(text)
    return parsed["rules"], parsed["sitemaps"]


ROBOTS_RULES_SCHEMA = None  # built lazily to avoid a types import cycle


def read_robots_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """1->N rule expansion over robots.txt text columns: one row per
    (user-agent, rule), rule_idx preserving file order within the
    document. Unparseable payloads are dropped (same quarantine
    posture as the codec lanes)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rule_idx", T.IntegerType()),
            T.StructField("user_agent", T.StringType()),
            T.StructField("allow", T.BooleanType()),
            T.StructField("pattern", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in schema}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                try:
                    rules, _ = parse_robots(text)
                except ValueError:
                    continue
                for j, (ua, allow, pattern) in enumerate(rules):
                    rows["doc_id"].append(int(doc_id))
                    rows["rule_idx"].append(j)
                    rows["user_agent"].append(ua)
                    rows["allow"].append(bool(allow))
                    rows["pattern"].append(pattern)
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema)


def read_robots_delays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """1->N Crawl-delay expansion over robots.txt text columns: one
    row per (user-agent, delay). Same quarantine posture as
    :func:`read_robots_rules`. Feed the output (after
    :func:`select_ua_delays`, which scopes the group over the full
    rules ∪ delays universe) into :func:`schedule_fetches`."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("user_agent", T.StringType()),
            T.StructField("crawl_delay", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in schema}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                try:
                    delays = parse_robots_full(text)["delays"]
                except ValueError:
                    continue
                for ua, seconds in delays:
                    rows["doc_id"].append(int(doc_id))
                    rows["user_agent"].append(ua)
                    rows["crawl_delay"].append(float(seconds))
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema)


def xml_unescape(c: Column) -> Column:
    """The five XML predefined entities, ``&amp;`` last (standard
    unescape order — unescaping it first would re-interpret payload
    text like ``&amp;lt;`` as an entity). Pure column expression."""
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def sitemap_urls(df: DataFrame, id_col: str, xml_col: str) -> DataFrame:
    """Declarative sitemap (sitemaps.org protocol) URL extraction —
    the crawl-frontier feed robots.txt ``Sitemap:`` lines point at:
    ``<url>`` entries from a urlset and ``<sitemap>`` entries from a
    sitemapindex, each with its ``<loc>`` (XML-unescaped) and optional
    ``<lastmod>``. ZERO Python: block extraction is
    ``regexp_extract_all`` + ``posexplode``, per-block fields are
    ``regexp_extract`` — ONE scan of the XML payload (both kinds'
    block arrays are built in the same projection, then stacked with
    an explode — a union of two lineages would read the payload
    column twice), codegen-friendly at any corpus size (XML
    namespaces/attributes are out of scope for the frontier's
    loc/lastmod harvest; a full XML parser belongs in the quarantining
    Python lane if ever needed)."""

    def blocks_of(kind: str) -> Column:
        return F.regexp_extract_all(
            F.col(xml_col), F.lit(rf"(?s)<{kind}>(.*?)</{kind}>"), F.lit(1)
        )

    stacked = df.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    F.lit("url").alias("kind"),
                    blocks_of("url").alias("blocks"),
                ),
                F.struct(
                    F.lit("sitemap").alias("kind"),
                    blocks_of("sitemap").alias("blocks"),
                ),
            )
        ).alias("_g"),
    ).select(
        id_col,
        F.col("_g.kind").alias("kind"),
        F.posexplode(F.col("_g.blocks")).alias("entry_idx", "_blk"),
    )
    loc = F.regexp_extract(F.col("_blk"), r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract(
        F.col("_blk"), r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1
    )
    return stacked.select(
        id_col,
        "kind",
        F.col("entry_idx").cast("int").alias("entry_idx"),
        xml_unescape(loc).alias("loc"),
        F.when(F.length(lastmod) > 0, lastmod).alias("lastmod"),
    ).filter(F.length("loc") > 0)


def schedule_fetches(
    urls: DataFrame,
    delays: DataFrame,
    url_id_col: str = "url_id",
    domain_col: str = "domain",
    delay_col: str = "crawl_delay",
    default_delay: float = 1.0,
) -> DataFrame:
    """Per-domain politeness schedule: the k-th URL of a domain
    (deterministic: ordered by ``url_id``) fetches at offset
    ``(k-1) * crawl_delay`` seconds, so no domain is hit faster than
    its robots.txt asks. ``delays`` is reduced to one row per domain
    HERE (max — the politest delay wins), so a caller passing an
    unselected or multi-UA delays frame cannot silently multiply URL
    rows through the left join and shift the row_number offsets;
    pre-select a UA group via :func:`select_ua_delays` for strict RFC
    9309 scoping. Domains without a delay row use ``default_delay``.
    One keyed window + a domain-equi join that shares the window's
    domain shuffle — the fetch schedule for a billion-URL frontier is
    one shuffle of the URL side. NO broadcast hint: the per-domain
    delay frame has one row per crawled domain (millions at corpus
    scale); AQE still broadcasts it when it is actually small."""
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(url_id_col)
    one_per_domain = (
        delays.select(domain_col, delay_col)
        .groupBy(domain_col)
        .agg(F.max(delay_col).alias(delay_col))
    )
    j = urls.join(one_per_domain, domain_col, "left")
    return j.withColumn(
        "fetch_offset_s",
        (
            (F.row_number().over(w) - 1)
            * F.coalesce(F.col(delay_col), F.lit(float(default_delay)))
        ).cast("double"),
    ).drop(delay_col)


def robots_like_pattern(pattern: Column) -> Column:
    """RFC 9309 path pattern -> SQL LIKE pattern (ESCAPE '\\\\'):
    literal \\ % _ are escaped, '*' becomes '%', a trailing '$'
    anchors the match, otherwise a trailing '%' keeps prefix
    semantics. LIKE is whole-stage-codegen-friendly on the JVM and
    has the identical algebra in DuckDB, so the admission operator
    and its oracle share one translation."""
    esc = F.regexp_replace(pattern, r"([\\%_])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", "%")
    return F.when(
        esc.endswith("$"), F.regexp_replace(esc, r"\$$", "")
    ).otherwise(F.concat(esc, F.lit("%")))


def select_ua_group(
    rules: DataFrame,
    user_agent: str,
    domain_col: str = "domain",
    ua_col: str = "user_agent",
) -> DataFrame:
    """RFC 9309 §2.2.1 group selection, per domain: keep exactly ONE
    user-agent group's rules — the most specific group whose token is
    a case-insensitive prefix of the crawler's product token, else the
    ``*`` group, else nothing. Groups are NEVER merged: a domain with
    a ``trainbot`` group must not also apply its ``*`` rules to
    trainbot (merging silently flips verdicts — the '*' group often
    disallows what a bot-specific group permits, or vice versa).

    Tie between equally specific matching tokens (not defined by the
    RFC) resolves to the lexicographically smallest token for
    determinism. Declarative and rules-side only: one shuffle on the
    domain key (two window functions share it) — NO broadcast of the
    per-domain frame, which has one row per crawled domain and is
    millions of rows at corpus scale, and the URL side never joins
    more than one group.
    """
    from pyspark.sql import Window

    ua = str(user_agent).lower()
    matched = rules.filter(
        (F.lower(F.col(ua_col)) == "*")
        | F.lit(ua).startswith(F.lower(F.col(ua_col)))
    ).withColumn(
        "_spec",
        F.when(F.lower(F.col(ua_col)) == "*", F.lit(0)).otherwise(
            F.length(ua_col)
        ),
    )
    w = Window.partitionBy(domain_col)
    return (
        matched.withColumn("_best_spec", F.max("_spec").over(w))
        .filter(F.col("_spec") == F.col("_best_spec"))
        .withColumn("_best_ua", F.min(F.lower(F.col(ua_col))).over(w))
        .filter(F.lower(F.col(ua_col)) == F.col("_best_ua"))
        .drop("_spec", "_best_spec", "_best_ua")
    )


def select_ua_delays(
    rules: DataFrame,
    delays: DataFrame,
    user_agent: str,
    domain_col: str = "domain",
    ua_col: str = "user_agent",
) -> DataFrame:
    """Strict RFC 9309 Crawl-delay scoping: choose the UA group over
    the FULL group universe (rules ∪ delays — a group can exist with
    rules but no Crawl-delay, or with only a Crawl-delay line), then
    keep only the chosen group's delay rows. A matched bot-specific
    group WITHOUT a delay therefore yields no row — the scheduler's
    ``default_delay`` applies — instead of inheriting the ``*``
    group's delay, which is what running :func:`select_ua_group` on a
    delays-only frame does (that frame cannot see delay-less groups;
    urllib.robotparser-style selection returns no delay there).
    Rules-side only: the group universe is a distinct over two
    per-domain frames, one shuffle on the domain key."""
    groups = (
        rules.select(domain_col, ua_col)
        .unionByName(delays.select(domain_col, ua_col))
        .distinct()
    )
    chosen = select_ua_group(groups, user_agent, domain_col, ua_col).select(
        F.col(domain_col), F.lower(F.col(ua_col)).alias("_chosen_ua")
    )
    return (
        delays.join(
            chosen,
            (delays[domain_col] == chosen[domain_col])
            & (F.lower(delays[ua_col]) == chosen["_chosen_ua"]),
        )
        .drop(chosen[domain_col])
        .drop("_chosen_ua")
    )


def robots_admission(
    urls: DataFrame,
    rules: DataFrame,
    url_id_col: str = "url_id",
    domain_col: str = "domain",
    path_col: str = "path",
    user_agent: str | None = None,
) -> DataFrame:
    """Allow/deny verdict per URL against per-domain robots rules —
    DECLARATIVE longest-match: a domain-equi join (rule sets per
    domain are tiny, URLs are the big side), LIKE-translated pattern
    match, and a per-URL window ordered by RFC 9309 precedence
    (longest matching pattern wins; tie -> allow). URLs whose domain
    has no matching rule are allowed (the protocol's default).
    Returns urls + ``allowed`` (+ ``matched_pattern`` for audit).

    **User-agent contract (RFC 9309 §2.2.1)**: a robots file's groups
    are selected, never merged — a crawler obeys its most specific
    matching group, else the ``*`` group. Pass ``user_agent`` (the
    crawler's product token) when ``rules`` still carries a
    ``user_agent`` column (e.g. raw :func:`read_robots_rules` output)
    and this operator applies :func:`select_ua_group` first. With
    ``user_agent=None`` the caller MUST have pre-selected a single
    group per domain already; feeding multi-group rules unselected
    merges groups and produces wrong verdicts."""
    from pyspark.sql import Window

    if user_agent is not None:
        rules = select_ua_group(rules, user_agent, domain_col=domain_col)

    r = rules.select(
        F.col(domain_col),
        F.col("pattern"),
        F.col("allow"),
        F.length("pattern").alias("_plen"),
        robots_like_pattern(F.col("pattern")).alias("_lp"),
    )
    j = urls.join(r, domain_col, "left").withColumn(
        "_m",
        F.col("_lp").isNotNull()
        & F.expr(f"{path_col} LIKE _lp ESCAPE '\\\\'"),
    )
    w = Window.partitionBy(url_id_col).orderBy(
        F.when(F.col("_m"), F.col("_plen")).otherwise(F.lit(-1)).desc(),
        F.col("allow").desc_nulls_last(),
        F.col("pattern").asc_nulls_last(),  # total order for determinism
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            url_id_col,
            domain_col,
            path_col,
            F.when(F.col("_m"), F.col("allow")).otherwise(F.lit(True)).alias(
                "allowed"
            ),
            F.when(F.col("_m"), F.col("pattern")).alias("matched_pattern"),
        )
    )


# --- main-content extraction (boilerplate removal) --------------------
# After politeness + ingestion, the #1 quality lever a crawl corpus
# applies is dropping nav/header/footer/sidebar boilerplate before any
# quality or dedup stage (trafilatura/jusText practice). Declarative
# form of the jusText block heuristic: split the page into blocks on
# block-level tags, score each block by text length and LINK DENSITY
# (chars inside <a> vs total text chars), keep the dense-prose blocks.
# Pure regexp + higher-order-function algebra over one projection —
# no Python, byte-identical DuckDB twin — so it fuses into the same
# codegen pass as the rest of the page gate chain at 100 TB.

_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|section|article|main|header|footer|nav|aside|ul|ol|li|"
    r"h[1-6]|table|thead|tbody|tr|td|th|blockquote|figure|figcaption|br|hr)"
    r"\b[^>]*>"
)
_LINK_BODY_RE = r"(?is)<a\b[^>]*>(.*?)</a>"


def _inline_text(col: Column) -> Column:
    """Strip remaining inline tags + entities from one block and
    normalize whitespace (the html_strip chain minus the script/
    style/comment steps, which run page-wide before block split)."""
    from .cleaning import HTML_STRIP_STEPS, normalize_whitespace

    out = col
    for pat, rep in HTML_STRIP_STEPS[3:]:
        out = F.regexp_replace(out, pat, rep)
    return normalize_whitespace(out)


def _inline_text_sql(expr: str) -> str:
    from .cleaning import HTML_STRIP_STEPS

    out = expr
    for pat, rep in HTML_STRIP_STEPS[3:]:
        sql_pat = pat.replace("'", "''")
        sql_rep = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{sql_rep}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def extract_main_content(
    col: Column, min_chars: int = 25, max_link_permille: int = 333
) -> Column:
    """Main-content text of an HTML page: script/style/comment bodies
    dropped page-wide, then the page splits into blocks on block-level
    tags; a block survives iff its tag-stripped text has at least
    ``min_chars`` characters AND its link density (chars inside
    ``<a>`` bodies per text char) is at most ``max_link_permille``/
    1000. Survivors re-join in document order. Integer permille math
    keeps the density threshold float-free and engine-exact."""
    from .cleaning import HTML_STRIP_STEPS, normalize_whitespace

    pre = col
    for pat, rep in HTML_STRIP_STEPS[:3]:
        pre = F.regexp_replace(pre, pat, rep)
    blocks = F.split(pre, _BLOCK_TAG_RE)

    def keep_text(b: Column) -> Column:
        txt = _inline_text(b)
        link = _inline_text(
            F.array_join(F.regexp_extract_all(b, F.lit(_LINK_BODY_RE), 1), " ")
        )
        keep = (F.length(txt) >= F.lit(min_chars)) & (
            F.length(link) * F.lit(1000)
            <= F.length(txt) * F.lit(max_link_permille)
        )
        return F.when(keep, txt)

    kept = F.filter(F.transform(blocks, keep_text), lambda t: t.isNotNull())
    return normalize_whitespace(F.array_join(kept, " "))


def extract_main_content_sql(
    expr: str, min_chars: int = 25, max_link_permille: int = 333
) -> str:
    """DuckDB twin of :func:`extract_main_content` (same patterns,
    same order, same integer thresholds)."""
    from .cleaning import HTML_STRIP_STEPS

    pre = expr
    for pat, rep in HTML_STRIP_STEPS[:3]:
        sql_pat = pat.replace("'", "''")
        pre = f"regexp_replace({pre}, '{sql_pat}', '{rep}', 'g')"
    block_re = _BLOCK_TAG_RE.replace("'", "''")
    link_re = _LINK_BODY_RE.replace("'", "''")
    blocks = f"regexp_split_to_array({pre}, '{block_re}')"
    txt = _inline_text_sql("_b")
    # coalesce: DuckDB's array_to_string of an EMPTY list is NULL
    # (Spark's array_join is ''), and a NULL link length would
    # silently drop every link-free block through the CASE condition
    link = _inline_text_sql(
        f"coalesce(array_to_string("
        f"regexp_extract_all(_b, '{link_re}', 1), ' '), '')"
    )
    kept = (
        f"list_filter(list_transform({blocks}, _b -> "
        f"CASE WHEN length({txt}) >= {min_chars} "
        f"AND length({link}) * 1000 <= length({txt}) * {max_link_permille} "
        f"THEN {txt} END), _t -> _t IS NOT NULL)"
    )
    return (
        f"trim(regexp_replace(array_to_string({kept}, ' '), '\\s+', ' ', 'g'))"
    )
