"""PII detection and redaction (north-star [ext]): the compliance pass
every LLM training-data pipeline runs before text leaves the curation
stage — find personally-identifying strings (emails, phone numbers, IP
addresses), measure their per-segment density, rewrite them out, and flag
the re-identification risk of records carrying several PII types at once.

The synthetic corpus contains no digits (and therefore no PII-shaped
strings), so the queries run the detectors over CONTACT BLOBS derived
deterministically from the customer and nation tables — name-based
emails, key-derived phone numbers and IPs, each attached under a
different key modulus so coverage varies per record. The construction is
expressed identically on the Spark side and in the DuckDB oracle, which
means the regex battery, the redaction rewrite, and the risk screen are
all hash-checked end to end on inputs that actually match.

Scale posture: everything is per-row Catalyst regex/string expression —
no shuffle at all until the final per-segment aggregate (detection
stats), and none whatsoever for the rewrite (map-only, the shape that
streams through 100 TB). Patterns are anchored, backtracking-free
constructs that mean the same thing in Java regex and RE2, so the oracle
comparison is a real cross-engine check, not a dialect accident.

No reference counterpart (lab2.py has no compliance surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import register

# Patterns valid (and equivalent) in both Java regex and RE2 — no
# lookaround, no backreferences.
EMAIL_RE = r"[a-z0-9.-]+@[a-z0-9-]+\.example"
PHONE_RE = r"\+1-555-[0-9]{4}"
IP_RE = r"10\.[0-9]+\.[0-9]+\.[0-9]+"


def contact_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthetic contact blob per customer: name + segment always,
    email / phone / IP each present under a different key modulus."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    email = F.concat(
        F.lit(" email "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("-"))),
        F.lit("@"),
        F.replace(F.lower("n_name"), F.lit("_"), F.lit("-")),
        F.lit(".example"),
    )
    phone = F.concat(
        F.lit(" phone +1-555-"),
        F.lpad(((F.col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" ip 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        F.expr("(c_custkey div 256) % 256").cast("string"),
        F.lit("."),
        (F.col("c_custkey") % 100).cast("string"),
    )
    blob = F.concat(
        F.lit("acct "),
        F.col("c_name"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
        F.when(F.col("c_custkey") % 3 == 0, email).otherwise(F.lit("")),
        F.when(F.col("c_custkey") % 5 < 2, phone).otherwise(F.lit("")),
        F.when(F.col("c_custkey") % 7 == 0, ip).otherwise(F.lit("")),
    )
    return c.select(
        F.col("c_custkey").alias("doc_id"),
        F.col("c_mktsegment").alias("segment"),
        blob.alias("text"),
    )


# The identical construction as a DuckDB CTE (|| auto-casts ints).
_SQL_BLOBS = """
    WITH blobs AS (
        SELECT c_custkey AS doc_id,
               c_mktsegment AS segment,
               'acct ' || c_name || ' segment ' || c_mktsegment
               || CASE WHEN c_custkey % 3 = 0 THEN
                    ' email ' || lower(replace(c_name, '#', '-')) || '@'
                    || replace(lower(n_name), '_', '-') || '.example'
                  ELSE '' END
               || CASE WHEN c_custkey % 5 < 2 THEN
                    ' phone +1-555-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
               || CASE WHEN c_custkey % 7 = 0 THEN
                    ' ip 10.' || (c_custkey % 256) || '.' || ((c_custkey // 256) % 256)
                    || '.' || (c_custkey % 100)
                  ELSE '' END AS text
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
"""


@register(
    "pii_detection_stats",
    oracle=_SQL_BLOBS
    + f"""
    SELECT segment,
           count(*) AS n_docs,
           count(*) FILTER (WHERE regexp_matches(text, '{EMAIL_RE}')) AS n_email_docs,
           count(*) FILTER (WHERE regexp_matches(text, '{PHONE_RE}')) AS n_phone_docs,
           count(*) FILTER (WHERE regexp_matches(text, '{IP_RE}')) AS n_ip_docs,
           CAST(sum(len(regexp_extract_all(text, '{EMAIL_RE}'))
               + len(regexp_extract_all(text, '{PHONE_RE}'))
               + len(regexp_extract_all(text, '{IP_RE}'))) AS BIGINT) AS n_pii_hits
    FROM blobs GROUP BY segment
    """,
    doc="[ext] PII detection battery: per-segment email/phone/IP document "
    "counts and total hit volume over the derived contact corpus — the "
    "triage report a compliance pass starts from. Map-side regex, one "
    "segment-key aggregate.",
)
def pii_detection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: detectors are per-row codegen'd regex — the only shuffle is
    the final tiny per-segment aggregate (segment cardinality is fixed,
    not corpus-sized)."""
    blobs = contact_blobs(spark, sf_dir)
    hits = (
        F.regexp_count("text", F.lit(EMAIL_RE))
        + F.regexp_count("text", F.lit(PHONE_RE))
        + F.regexp_count("text", F.lit(IP_RE))
    )
    return blobs.groupBy("segment").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("text").rlike(EMAIL_RE)).alias("n_email_docs"),
        F.count_if(F.col("text").rlike(PHONE_RE)).alias("n_phone_docs"),
        F.count_if(F.col("text").rlike(IP_RE)).alias("n_ip_docs"),
        F.sum(hits).alias("n_pii_hits"),
    )


@register(
    "pii_redacted_rewrite",
    oracle=_SQL_BLOBS
    + f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}'))
              + len(regexp_extract_all(text, '{PHONE_RE}'))
              + len(regexp_extract_all(text, '{IP_RE}')) AS BIGINT) AS n_redactions,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g'),
                 '{IP_RE}', '<IP>', 'g')) AS redacted_md5
    FROM blobs
    """,
    doc="[ext] PII redaction rewrite: every email/phone/IP replaced by a "
    "typed placeholder; output is (doc, redaction count, md5 of the "
    "rewritten text) so the oracle hash-checks the exact rewritten bytes. "
    "Map-only — zero shuffles: the 100 TB shape is read-rewrite-write.",
)
def pii_redacted_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction order is fixed (email, phone, IP) and the patterns are
    mutually non-overlapping by construction, so the rewrite is
    order-insensitive in effect but deterministic in bytes."""
    blobs = contact_blobs(spark, sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        IP_RE,
        "<IP>",
    )
    n_red = (
        F.regexp_count("text", F.lit(EMAIL_RE))
        + F.regexp_count("text", F.lit(PHONE_RE))
        + F.regexp_count("text", F.lit(IP_RE))
    ).cast("bigint")
    return blobs.select(
        "doc_id",
        n_red.alias("n_redactions"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "pii_multitype_risk",
    oracle=_SQL_BLOBS
    + f"""
    SELECT doc_id,
           regexp_matches(text, '{EMAIL_RE}') AS has_email,
           regexp_matches(text, '{PHONE_RE}') AS has_phone,
           regexp_matches(text, '{IP_RE}') AS has_ip
    FROM blobs
    WHERE CAST(regexp_matches(text, '{EMAIL_RE}') AS INT)
        + CAST(regexp_matches(text, '{PHONE_RE}') AS INT)
        + CAST(regexp_matches(text, '{IP_RE}') AS INT) >= 2
    """,
    doc="[ext] re-identification risk screen: records carrying two or more "
    "distinct PII types (quasi-identifier co-occurrence) — the rows a "
    "privacy review escalates first. Pure filter, no shuffle.",
)
def pii_multitype_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = contact_blobs(spark, sf_dir)
    has_email = F.col("text").rlike(EMAIL_RE)
    has_phone = F.col("text").rlike(PHONE_RE)
    has_ip = F.col("text").rlike(IP_RE)
    n_types = (
        has_email.cast("int") + has_phone.cast("int") + has_ip.cast("int")
    )
    return blobs.select(
        "doc_id",
        has_email.alias("has_email"),
        has_phone.alias("has_phone"),
        has_ip.alias("has_ip"),
        n_types.alias("_n"),
    ).filter(F.col("_n") >= 2).drop("_n")


K_ANON_THRESHOLD = 5  # the classic k for "small group = re-identifiable"


@register(
    "k_anonymity_audit",
    oracle=f"""
        WITH qi AS (
            SELECT c_nationkey,
                   c_mktsegment,
                   CAST(floor(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                                   AS DOUBLE) / 100000) AS BIGINT) AS bal_bucket
            FROM customer
        ),
        groups AS (
            SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS n
            FROM qi GROUP BY 1, 2, 3
        )
        SELECT CAST(min(n) AS BIGINT) AS k_anonymity,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN n < {K_ANON_THRESHOLD} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_groups_below_k,
               CAST(sum(CASE WHEN n < {K_ANON_THRESHOLD} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk,
               round(CAST(sum(CASE WHEN n < {K_ANON_THRESHOLD} THEN n ELSE 0 END)
                          AS DOUBLE) / sum(n), 6) AS at_risk_frac
        FROM groups
    """,
    doc=f"[ext] k-anonymity audit over the quasi-identifier combination "
    "(nation, market segment, account-balance bucket): the governance "
    "measure of re-identification risk BEFORE a release — k_anonymity is "
    "the smallest group any record hides in, and at_risk_frac is the "
    f"share of records in groups smaller than k={K_ANON_THRESHOLD}. The "
    "balance bucket floors EXACT integer cents (never float division of "
    "the raw balance — bucket boundaries are exactly where engines "
    "disagree by one ULP). Complements the PII detectors: those find "
    "direct identifiers, this measures indirect linkability.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate collapses the table to its QI-group
    relation (map-side partials), and the audit row is a second tiny
    aggregate over groups — the global_count shape. At 100 TB the group
    relation is |QI-combinations|-sized (bounded by the attribute
    domains), never row-sized."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    bucket = F.floor(cents.cast("double") / 100000).cast("long")
    groups = (
        cust.select("c_nationkey", "c_mktsegment", bucket.alias("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count("*").alias("n"))
    )
    below = F.when(F.col("n") < K_ANON_THRESHOLD, F.col("n")).otherwise(F.lit(0))
    return groups.agg(
        F.min("n").alias("k_anonymity"),
        F.count("*").alias("n_groups"),
        F.sum(
            F.when(F.col("n") < K_ANON_THRESHOLD, 1).otherwise(0)
        ).alias("n_groups_below_k"),
        F.sum(below).alias("n_rows_at_risk"),
        F.round(
            F.sum(below).cast("double") / F.sum("n"), 6
        ).alias("at_risk_frac"),
    )


L_DIV_THRESHOLD = 3  # groups with fewer distinct sensitive values are exposed


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH qi AS (
            SELECT c_nationkey,
                   CAST(floor(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                                   AS DOUBLE) / 100000) AS BIGINT) AS bal_bucket,
                   c_mktsegment
            FROM customer
        ),
        groups AS (
            SELECT c_nationkey, bal_bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
            FROM qi GROUP BY 1, 2
        )
        SELECT CAST(min(l) AS BIGINT) AS l_diversity,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN l < {L_DIV_THRESHOLD} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_groups_below_l,
               CAST(sum(CASE WHEN l < {L_DIV_THRESHOLD} THEN n ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk,
               round(CAST(sum(CASE WHEN l < {L_DIV_THRESHOLD} THEN n ELSE 0 END)
                          AS DOUBLE) / sum(n), 6) AS at_risk_frac
        FROM groups
    """,
    doc=f"[ext] l-diversity audit: k-anonymity's complement — a group can "
    "be large (k-anonymous) yet still leak if everyone in it shares the "
    "same SENSITIVE value, so this measures, per quasi-identifier group "
    "(nation, account-balance bucket), how many distinct sensitive values "
    "(market segment) it contains. l_diversity is the worst group's "
    f"count; groups below l={L_DIV_THRESHOLD} expose their members to "
    "homogeneity attacks even when k is satisfied. Bucket boundaries use "
    "exact integer cents, matching k_anonymity_audit.",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate (with a distinct-count) collapses the
    table to its QI-group relation — bounded by the attribute domains,
    never row-sized — and the audit row is a second tiny aggregate over
    groups, the same shape as k_anonymity_audit."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    bucket = F.floor(cents.cast("double") / 100000).cast("long")
    groups = (
        cust.select("c_nationkey", bucket.alias("bal_bucket"), "c_mktsegment")
        .groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("c_mktsegment").alias("l"),
        )
    )
    at_risk = F.when(F.col("l") < L_DIV_THRESHOLD, F.col("n")).otherwise(F.lit(0))
    return groups.agg(
        F.min("l").alias("l_diversity"),
        F.count("*").alias("n_groups"),
        F.sum(
            F.when(F.col("l") < L_DIV_THRESHOLD, 1).otherwise(0)
        ).alias("n_groups_below_l"),
        F.sum(at_risk).alias("n_rows_at_risk"),
        F.round(F.sum(at_risk).cast("double") / F.sum("n"), 6).alias("at_risk_frac"),
    )
