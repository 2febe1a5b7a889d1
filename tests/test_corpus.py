from __future__ import annotations

import duckdb
import pytest

from kgpipe.corpus import (
    EMAIL_RE, IPV4_RE, PHONE_RE, rate_threshold_hex, redact_pii,
    stratified_sample,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "contact me at alice.smith+test@example.co.uk or 555-867-5309 ok"),
        (2, "server 10.0.0.1 talked to 192.168.255.254 then died"),
        (3, "plain text no pii here at all just words"),
        (4, "mixed bob@x.io saw 8.8.8.8 call 303.555.1234 done"),
        (5, "see https://www.example.com/path and http://Sub.Blocked.ORG:8080/x"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_redact_pii_counts_and_text(docs):
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 0, 1)
    assert got[1]["redacted"] == "contact me at <EMAIL> or <PHONE> ok"
    assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (0, 2, 0)
    assert got[2]["redacted"] == "server <IP> talked to <IP> then died"
    assert got[3]["redacted"] == docs.filter("doc_id=3").first()["text"]
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (1, 1, 1)
    assert got[4]["redacted"] == "mixed <EMAIL> saw <IP> call <PHONE> done"


def test_redact_pii_dotted_quad_not_phone(spark):
    # a dotted quad is consumed by the IP rule; the phone count runs on
    # the ip-redacted text so it must see zero phones here even though
    # "168.254.1" would otherwise phone-match inside the quad
    df = spark.createDataFrame(
        [(1, "ip 172.168.254.1234 end")], ["doc_id", "text"]
    )
    r = redact_pii(df).first()
    # NOT an IPv4 (4-digit quad) — the embedded 168.254.1234 IS a phone
    assert r["n_ips"] == 0 and r["n_phones"] == 1

    df2 = spark.createDataFrame([(2, "ip 172.168.254.123 end")], ["doc_id", "text"])
    r2 = redact_pii(df2).first()
    assert r2["n_ips"] == 1 and r2["n_phones"] == 0
    assert "<IP>" in r2["redacted"] and "<PHONE>" not in r2["redacted"]


def test_redact_pii_counts_match_placeholders(spark):
    # phone-/IP-shaped strings inside an email local part are consumed by
    # <EMAIL>; counts run on the progressively redacted text so they equal
    # the placeholders actually present in the output
    df = spark.createDataFrame(
        [(1, "mail 303.555.1234@x.io and 10.0.0.1@y.io end")],
        ["doc_id", "text"],
    )
    r = redact_pii(df).first()
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (2, 0, 0)
    assert r["redacted"] == "mail <EMAIL> and <EMAIL> end"
    assert r["redacted"].count("<EMAIL>") == r["n_emails"]


def test_redact_pii_matches_duckdb(docs):
    """The exact patterns must behave identically under RE2 (the oracle)."""
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {
        r[0]: r
        for r in con.execute(
            f"""
            SELECT doc_id,
              len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
              len(regexp_extract_all(
                 regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{IPV4_RE}')) AS n_ips,
              len(regexp_extract_all(
                 regexp_replace(regexp_replace(
                   text, '{EMAIL_RE}', '<EMAIL>', 'g'), '{IPV4_RE}', '<IP>', 'g'),
                 '{PHONE_RE}')) AS n_phones,
              regexp_replace(regexp_replace(regexp_replace(
                text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                '{IPV4_RE}', '<IP>', 'g'),
                '{PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM documents
            """
        ).fetchall()
    }
    for r in redact_pii(docs).collect():
        d = duck[r["doc_id"]]
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (d[1], d[2], d[3])
        assert r["redacted"] == d[4]


def test_rate_threshold_hex():
    assert rate_threshold_hex(0.0) == "00000000"
    assert rate_threshold_hex(1.0) == "g"  # sorts above every hex prefix
    assert rate_threshold_hex(1.0) > "ffffffff"
    assert rate_threshold_hex(0.5) == "80000000"
    assert rate_threshold_hex(0.25) == "40000000"
    with pytest.raises(ValueError):
        rate_threshold_hex(1.5)


def test_stratified_sample(spark):
    rows = [(f"d{i:04d}", "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_sample(
        df, "lang", {"en": 0.5, "de": 0.1}, default_rate=0.0
    ).collect()
    en = sum(1 for r in out if r["lang"] == "en")
    de = sum(1 for r in out if r["lang"] == "de")
    # binomial(1000, p): ±5 sigma bands around 500 and 100
    assert 420 <= en <= 580
    assert 50 <= de <= 150
    # deterministic: identical selection on re-run
    again = stratified_sample(
        df, "lang", {"en": 0.5, "de": 0.1}, default_rate=0.0
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        r["doc_id"] for r in again)
    # rate 0 / unknown stratum -> empty; rate 1.0 keeps everything
    assert stratified_sample(df, "lang", {}, default_rate=0.0).count() == 0
    assert stratified_sample(df, "lang", {}, default_rate=1.0).count() == 2000
    # salt draws an independent sample
    salted = stratified_sample(
        df, "lang", {"en": 0.5, "de": 0.1}, default_rate=0.0, salt="s1"
    ).collect()
    assert sorted(r["doc_id"] for r in salted) != sorted(
        r["doc_id"] for r in out)


def test_stratified_sample_duckdb_parity(spark):
    rows = [(f"d{i:04d}", "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df, "lang", {"en": 0.25, "de": 0.75}, default_rate=0.0
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) v(doc_id, lang)"
        % ",".join(f"('{d}','{l}')" for d, l in rows)
    )
    want = [
        r[0]
        for r in con.execute(
            """SELECT doc_id FROM t
               WHERE substring(md5(doc_id), 1, 8) <
                     CASE lang WHEN 'en' THEN '40000000'
                               WHEN 'de' THEN 'c0000000'
                               ELSE '00000000' END
               ORDER BY doc_id"""
        ).fetchall()
    ]
    assert got == want
