"""Gate battery extension: HTML-head metadata, PII pseudonymization /
IBAN scrubbing, and duplication-rate / soft-dedup curation queries.

Same contract as queries.py — every builder takes (spark, sf_dir) and has a
DuckDB oracle over the same parquet views; fixtures are synthesized
deterministically from the documents table in BOTH engines (the linkgraph
synth pattern), so the driver's rows/schema/hash gate covers the full
operator including its parsing/validation arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from language_identification_spark.operators.htmlmeta import (
    canonical_dedup,
    extract_html_meta,
    synth_meta_pages,
)
from language_identification_spark.operators.pii import (
    EMAIL_PATTERN,
    IBAN_DIM,
    PHONE_PATTERN,
    pseudonymize_expr,
    scrub_iban_expr,
    synth_pii_docs,
)
from language_identification_spark.queries import _spread, _t

# --- shared SQL fixtures --------------------------------------------------

# mirror of operators/htmlmeta.py:synth_meta_pages
_SQL_META_PAGES = r"""
meta_pages AS (
  SELECT doc_id, lang,
         'http://site' || ((doc_id // 4) % 25) || '.example.com/p' || doc_id
           AS url,
         '<html><head><title>site' || ((doc_id // 4) % 25) || ' page '
         || doc_id || '</title>'
         || CASE WHEN doc_id % 7 = 3
                 THEN '<meta name="robots" content="noindex,nofollow">'
                 WHEN doc_id % 7 = 5
                 THEN '<meta name="robots" content="index,follow">'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN ''
                 ELSE '<link rel="canonical" href="http://site'
                      || ((doc_id // 4) % 25) || '.example.com/p'
                      || (doc_id - doc_id % 4) || '">' END
         || '<link rel="alternate" hreflang="'
         || CASE WHEN doc_id % 11 = 0
                 THEN (CASE WHEN lang = 'en' THEN 'zh' ELSE 'en' END)
                 ELSE lang END
         || '" href="http://site' || ((doc_id // 4) % 25)
         || '.example.com/p' || doc_id || '">'
         || '</head><body><p>page ' || doc_id || '</p></body></html>'
           AS html
  FROM documents
)
"""

_SQL_META_EXTRACT = r"""
meta AS (
  SELECT doc_id, url,
         regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         regexp_extract(html, '<meta name="robots" content="([^"]*)"', 1)
           AS robots,
         contains(regexp_extract(html,
           '<meta name="robots" content="([^"]*)"', 1), 'noindex')
           AS noindex,
         regexp_extract(html, '<link rel="canonical" href="([^"]*)"', 1)
           AS canonical,
         regexp_extract(html, '<link rel="alternate" hreflang="([^"]*)"', 1)
           AS hreflang,
         lang
  FROM meta_pages
)
"""

# mirror of operators/pii.py:synth_pii_docs (IBAN dim inlined as VALUES)
_SQL_IBAN_DIM = "iban_dim(idx, iban) AS (VALUES " + ", ".join(
    f"({i}, '{s}')" for i, s in enumerate(IBAN_DIM)
) + ")"

_SQL_PII_DOCS = (
    _SQL_IBAN_DIM
    + r""",
pii_docs AS (
  SELECT d.doc_id,
         coalesce(d.text, '') || ' Contact p' || (d.doc_id % 7) || '@mail'
         || (d.doc_id % 3) || '.example.com or p' || ((d.doc_id * 2) % 7)
         || '@mail' || (d.doc_id % 3) || '.example.com, call +1-555-'
         || (1000 + d.doc_id % 9000) || ' pay to ' || i.iban || ' ref '
         || d.doc_id || '.' AS text
  FROM documents d JOIN iban_dim i ON i.idx = d.doc_id % 16
)
"""
)

# duplication-structure fixture: ~60% of docs collapse into 3-id clusters,
# 10% into one mega cluster (the skew case), 30% stay unique
_SQL_DUP_DOCS = r"""
dup_docs AS (
  SELECT doc_id, 'site' || (doc_id % 25) AS host,
         md5(CASE WHEN doc_id % 10 < 6 THEN 'dup-' || (doc_id // 3)
                  WHEN doc_id % 10 = 6 THEN 'mega-dup'
                  ELSE coalesce(text, '') || ' #' || doc_id END) AS h
  FROM documents
)
"""


def _synth_dup_docs(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    dup_text = (
        F.when(
            d % 10 < 6,
            F.concat(
                F.lit("dup-"), (((d - d % 3) / 3).cast("long")).cast("string")
            ),
        )
        .when(d % 10 == 6, F.lit("mega-dup"))
        .otherwise(
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" #"),
                d.cast("string"),
            )
        )
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("site"), (d % 25).cast("string")).alias("host"),
        F.md5(dup_text.cast("binary")).alias("h"),
    )


# --- HTML-head metadata ---------------------------------------------------


def q_html_meta_extract(spark, sf_dir):
    """Head-metadata extraction (operators/htmlmeta.py): title, robots
    directive (+ derived noindex), canonical link, hreflang — the three
    signals an index-policy-respecting crawler reads before the body.
    Pure narrow map, native regexp, zero Python; the oracle re-synthesizes
    the same pages and replays the same RE2-safe patterns."""
    pages = synth_meta_pages(_spread(_t(spark, sf_dir, "documents")))
    return extract_html_meta(pages).select(
        "doc_id", "url", "title", "robots", "noindex", "canonical", "hreflang"
    )


SQL_HTML_META_EXTRACT = (
    "WITH "
    + _SQL_META_PAGES
    + ", "
    + _SQL_META_EXTRACT
    + "SELECT doc_id, url, title, robots, noindex, canonical, hreflang FROM meta"
)


def q_canonical_dedup(spark, sf_dir):
    """Publisher-declared dedup (operators/htmlmeta.py:canonical_dedup):
    group by coalesce(canonical, url), honor noindex, keep the
    self-canonical page else min doc_id. ONE hash aggregate on a
    host-local key; output dim-sized (distinct canonicals). kept_doc_id
    NULL when a whole cluster is noindexed."""
    pages = synth_meta_pages(_spread(_t(spark, sf_dir, "documents")))
    return canonical_dedup(extract_html_meta(pages))


SQL_CANONICAL_DEDUP = (
    "WITH "
    + _SQL_META_PAGES
    + ", "
    + _SQL_META_EXTRACT
    + r""",
g AS (
  SELECT CASE WHEN canonical <> '' THEN canonical ELSE url END AS canon_url,
         doc_id, NOT noindex AS live, url AS url
  FROM meta
)
SELECT canon_url,
       CAST(sum(CASE WHEN live THEN 1 ELSE 0 END) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN live THEN 0 ELSE 1 END) AS BIGINT) AS n_noindex,
       coalesce(min(CASE WHEN live AND url = canon_url THEN doc_id END),
                min(CASE WHEN live THEN doc_id END)) AS kept_doc_id
FROM g GROUP BY canon_url
"""
)


def q_hreflang_consistency(spark, sf_dir):
    """Declared-vs-detected language agreement matrix — metadata lies
    (every 11th fixture page declares the wrong hreflang), and a curation
    stack measures how much before trusting it. Output (hreflang, lang,
    n_pages, agree); |langs|^2-bounded after one hash aggregate."""
    pages = synth_meta_pages(_spread(_t(spark, sf_dir, "documents")))
    meta = extract_html_meta(pages)
    return (
        meta.groupBy("hreflang", "lang")
        .agg(F.count("*").cast("bigint").alias("n_pages"))
        .withColumn("agree", F.col("hreflang") == F.col("lang"))
    )


SQL_HREFLANG_CONSISTENCY = (
    "WITH "
    + _SQL_META_PAGES
    + ", "
    + _SQL_META_EXTRACT
    + r"""
SELECT hreflang, lang, CAST(count(*) AS BIGINT) AS n_pages,
       hreflang = lang AS agree
FROM meta GROUP BY hreflang, lang
"""
)


# --- PII ------------------------------------------------------------------


def q_pii_pseudonymize(spark, sf_dir):
    """Consistent per-document pseudonymization (operators/pii.py):
    distinct emails/phones map to indexed placeholders (<EMAIL_k>,
    <PHONE_k>, k = rank in the sorted distinct match list), identical
    occurrences share one index. Split-and-reassemble over a single regex
    scan — exact even for substring-nested matches where iterated replace
    corrupts. Narrow map, zero Python; the oracle replays the reassembly
    with list HOFs."""
    docs = synth_pii_docs(_spread(_t(spark, sf_dir, "documents")))
    e_text, n_emails = pseudonymize_expr(
        F.col("text"), EMAIL_PATTERN, "EMAIL"
    )
    step1 = docs.select(
        "doc_id", e_text.alias("text"), n_emails.cast("bigint").alias("n_emails")
    )
    p_text, n_phones = pseudonymize_expr(F.col("text"), PHONE_PATTERN, "PHONE")
    return step1.select(
        "doc_id",
        p_text.alias("text"),
        "n_emails",
        n_phones.cast("bigint").alias("n_phones"),
    )


SQL_PII_PSEUDONYMIZE = (
    "WITH "
    + _SQL_PII_DOCS
    + r""",
e AS (
  SELECT doc_id,
         string_split_regex(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS parts,
         regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS matches,
         list_sort(list_distinct(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS ms
  FROM pii_docs
),
e2 AS (
  SELECT doc_id,
         parts[1] || array_to_string(list_transform(matches,
           (m, i) -> '<EMAIL_' || (list_position(ms, m) - 1) || '>'
                     || parts[i + 1]), '') AS text,
         CAST(len(ms) AS BIGINT) AS n_emails
  FROM e
),
p AS (
  SELECT doc_id, n_emails,
         string_split_regex(text,
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,8}') AS parts,
         regexp_extract_all(text,
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,8}') AS matches,
         list_sort(list_distinct(regexp_extract_all(text,
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,8}'))) AS ms
  FROM e2
)
SELECT doc_id,
       parts[1] || array_to_string(list_transform(matches,
         (m, i) -> '<PHONE_' || (list_position(ms, m) - 1) || '>'
                   || parts[i + 1]), '') AS text,
       n_emails,
       CAST(len(ms) AS BIGINT) AS n_phones
FROM p
"""
)


def q_pii_iban(spark, sf_dir):
    """Checksum-gated IBAN masking (operators/pii.py:scrub_iban_expr):
    regex candidates validated with the ISO 13616 mod-97 integer fold;
    only checksum-correct spans become <IBAN> (half the fixture dim is
    one-digit-corrupted and must survive unmasked). The oracle replays
    the fold with list_reduce — the validation arithmetic itself is
    hash-gated, not just the regex."""
    docs = synth_pii_docs(_spread(_t(spark, sf_dir, "documents")))
    masked, n_cands, n_valid = scrub_iban_expr(F.col("text"))
    return docs.select(
        "doc_id",
        masked.alias("text"),
        n_cands.cast("bigint").alias("n_cands"),
        n_valid.cast("bigint").alias("n_valid"),
    )


SQL_PII_IBAN = (
    "WITH "
    + _SQL_PII_DOCS
    + r""",
ib AS (
  SELECT doc_id,
         regexp_extract_all(text, '\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b')
           AS cands,
         string_split_regex(text, '\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b')
           AS parts
  FROM pii_docs
),
v AS (
  SELECT doc_id, cands, parts,
         list_transform(cands, c ->
           list_transform([substr(c, 5) || substr(c, 1, 4)], r ->
             list_reduce(flatten(list_transform(range(1, length(r) + 1),
               i -> CASE WHEN substr(r, i, 1) BETWEEN 'A' AND 'Z'
                         THEN [(ascii(substr(r, i, 1)) - 55) // 10,
                               (ascii(substr(r, i, 1)) - 55) % 10]
                         ELSE [ascii(substr(r, i, 1)) - 48] END)),
               (a, b) -> (a * 10 + b) % 97) = 1)[1]) AS ok
  FROM ib
)
SELECT doc_id,
       parts[1] || array_to_string(list_transform(cands,
         (m, i) -> (CASE WHEN ok[i] THEN '<IBAN>' ELSE m END)
                   || parts[i + 1]), '') AS text,
       CAST(len(cands) AS BIGINT) AS n_cands,
       CAST(len(list_filter(ok, x -> x)) AS BIGINT) AS n_valid
FROM v
"""
)


# --- duplication-rate dashboard + soft dedup ------------------------------


def q_dup_rate_by_host(spark, sf_dir):
    """Per-host duplication dashboard — the curation monitor that decides
    which hosts are mirror farms (high dup share) before dedup spends
    shuffle on them. Two exchanges: corpus-wide hash-group for copy
    counts, then a host-grain aggregate; dup share reported in ppm via
    integer division (order-independent, no float-rounding hazard).
    Output bounded by |hosts|."""
    d = _synth_dup_docs(_spread(_t(spark, sf_dir, "documents")))
    counts = d.groupBy("h").agg(F.count("*").alias("cnt"))
    return (
        d.join(counts, "h")
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.countDistinct("h").cast("bigint").alias("n_groups"),
        )
        .withColumn("dup_ppm", F.expr("1000000 * n_dup_docs div n_docs"))
    )


SQL_DUP_RATE_BY_HOST = (
    "WITH "
    + _SQL_DUP_DOCS
    + r""",
c AS (SELECT h, count(*) AS cnt FROM dup_docs GROUP BY h)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(count(DISTINCT d.h) AS BIGINT) AS n_groups,
       CAST((1000000 * sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS dup_ppm
FROM dup_docs d JOIN c USING (h)
GROUP BY host
"""
)


def q_dedup_soft_weight(spark, sf_dir):
    """Soft dedup (keep-all, downweight copies): every member of an
    exact-dup cluster of size n gets sampling weight 1/n (ppm integer) and
    a deterministic Bernoulli(1/n) keep flag via the portable md5 hash —
    the expected corpus after sampling is one copy per cluster WITHOUT
    electing a canonical (the Lee-et-al alternative to keep-min dedup;
    preserves within-cluster diversity for training mixes). Integer-exact
    decision rule: keep iff (md5_u32(doc_id) % 1e6) * n < 1e6."""
    d = _synth_dup_docs(_spread(_t(spark, sf_dir, "documents")))
    counts = d.groupBy("h").agg(F.count("*").alias("cnt"))
    h32 = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    return (
        d.join(counts, "h")
        .select(
            "doc_id",
            F.col("cnt").cast("bigint").alias("group_size"),
            F.expr("1000000 div cnt").alias("weight_ppm"),
            ((h32 * F.col("cnt")) < 1000000).alias("keep"),
        )
    )


SQL_DEDUP_SOFT_WEIGHT = (
    "WITH "
    + _SQL_DUP_DOCS
    + r""",
c AS (SELECT h, count(*) AS cnt FROM dup_docs GROUP BY h)
SELECT doc_id,
       CAST(cnt AS BIGINT) AS group_size,
       1000000 // cnt AS weight_ppm,
       (CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS UINT32)
        % 1000000) * cnt < 1000000 AS keep
FROM dup_docs d JOIN c USING (h)
"""
)


GATES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "html_meta_extract": (q_html_meta_extract, SQL_HTML_META_EXTRACT),
    "canonical_dedup": (q_canonical_dedup, SQL_CANONICAL_DEDUP),
    "hreflang_consistency": (q_hreflang_consistency, SQL_HREFLANG_CONSISTENCY),
    "pii_pseudonymize": (q_pii_pseudonymize, SQL_PII_PSEUDONYMIZE),
    "pii_iban": (q_pii_iban, SQL_PII_IBAN),
    "dup_rate_by_host": (q_dup_rate_by_host, SQL_DUP_RATE_BY_HOST),
    "dedup_soft_weight": (q_dedup_soft_weight, SQL_DEDUP_SOFT_WEIGHT),
}
