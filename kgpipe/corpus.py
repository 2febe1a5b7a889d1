"""PII redaction and deterministic stratified sampling over a text
column.

Everything here is column expressions (JVM-side, whole-stage codegen);
the regex subset used is the intersection of Java regex (Spark) and RE2
(DuckDB) so a DuckDB oracle can run the identical patterns: ASCII
``\\d``/``\\s`` classes, ``\\b`` anchors, bounded repetition — no
backreferences or lookaround.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F

# Patterns valid (and identical in meaning) under both Java regex and RE2.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers to typed
    placeholder tokens, reporting per-document counts.

    Order matters: emails first (their local parts can contain digit runs
    a later pass would see), then IPv4 (4 dotted quads) before phone
    numbers (3-3-4 with ``-``/``.`` separators) so a dotted-quad is never
    half-eaten by the phone rule.

    Each count runs on the text as redacted by the EARLIER rules (emails
    on raw, IPs on email-redacted, phones on email+IP-redacted) so the
    counts equal the number of placeholders actually emitted — a
    phone-shaped string inside an email local part is consumed by
    ``<EMAIL>`` and counted by neither later rule.

    Scale: three chained ``regexp_replace`` + three ``regexp_count`` per
    row — narrow projection, zero shuffle at any corpus size, whole-stage
    codegen.  At 100 TB the cost is the scan itself.
    """
    c = F.col(text)
    after_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    return df.select(
        "doc_id",
        F.regexp_count(c, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(IPV4_RE)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_replace(after_ip, PHONE_RE, "<PHONE>").alias("redacted"),
    )


def rate_threshold_hex(rate: float, digits: int = 8) -> str:
    """Lexicographic md5-prefix threshold realizing ``rate``: a document
    passes iff the first ``digits`` hex chars of its key hash sort below
    the threshold.  Granularity is 16**-digits (≈2.3e-10 at 8), and the
    comparison is a plain string ``<`` — identical in Spark and DuckDB,
    so sampling decisions are bit-reproducible across engines."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    scaled = int(round(rate * 16 ** digits))
    if scaled >= 16 ** digits:
        # must sort above every hex prefix; 'g' > 'f' lexicographically
        # (16**digits in hex is '1' + zeros, which would sort BELOW 'f...')
        return "g"
    return format(scaled, f"0{digits}x")


def stratified_sample(
    df: DataFrame,
    strata: Column | str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    key: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic hash-stratified sampling: keep each document with a
    per-stratum probability, decided by ``md5(salt || key)`` against a
    hex threshold — no RNG, no ``DataFrame.sample``, so the selection is
    stable under retries, resumes, and partition re-splits (the property
    a lineage-resumable pipeline needs: a re-run of one failed partition
    must re-select exactly the same documents).

    DoReMi/importance-resampling-style domain reweighting reduces to
    this: strata = domain/language/quality-bucket, rates = target mix.

    Scale: narrow filter, zero shuffle, whole-stage codegen; the rate
    table ships as a CASE expression (strata vocabularies are small).
    Change ``salt`` to draw an independent sample.
    """
    s = F.col(strata) if isinstance(strata, str) else strata
    thr = F.lit(rate_threshold_hex(default_rate))
    for name, rate in sorted(rates.items()):
        thr = F.when(s == name, F.lit(rate_threshold_hex(rate))).otherwise(thr)
    # '|' separator keeps (salt, key) injective — concat('1', '23') must
    # not collide with concat('12', '3'); no separator when unsalted so
    # the plain md5(key) contract (and its DuckDB parity check) stays simple
    k = F.col(key).cast("string")
    hashed = F.concat(F.lit(salt + "|"), k) if salt else k
    h = F.substring(F.md5(hashed), 1, 8)
    return df.filter(h < thr)
