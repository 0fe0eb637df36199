"""PII scrubbing — redact and count personally-identifiable tokens
(emails, NANP-style phone numbers, IPv4 addresses, 16-digit payment
card numbers with an integer Luhn validity check) in a text column,
entirely JVM-side (regexp + higher-order expressions inside
WholeStageCodegen): ZERO shuffles, zero Python in the hot path — the
scrub rides the ingest scan, which is the only cost model acceptable
for a 100 TB redaction pass.

The Luhn check (ISO/IEC 7812, public) runs as a pure-integer
``aggregate`` lambda over the card's digits, so "matches the card
SHAPE" (``n_cards``) and "is an actually-valid number"
(``n_cards_luhn``) are separate signals — shape-only matches are
mostly noise (order ids, serials), Luhn-valid ones are the rows a
compliance audit must flag.

Oracle strategy (the synth_media discipline): regex dialects differ
across engines, so the DRIVER-facing query scrubs text SYNTHESIZED
from ids (``synth_pii_text`` — deterministic PII injections whose
placement, validity and redacted rendering are pure id arithmetic)
and the DuckDB oracle replays counts and the scrubbed-text md5 by
id arithmetic + string concat alone — no SQL regex anywhere, so a
green row proves the ENGINE's regexes, the scrub order, the Luhn
fold and the redaction rendering end to end without cross-engine
regex-parity risk.  For real corpora the pytest suite additionally
pins ``pii_scrub`` against an independent ``re``-module model.

Relationship to ``text.redact_pii`` and the former ``pii_redaction``
query: this module STRICTLY SUBSUMES that claim — email/SSN/phone
masking and counting plus payment-card shape, the Luhn validity
split, IPv4, per-kind counts and the regex-free oracle.  The
registered ``pii_scrub`` query replaced ``pii_redaction``;
``text.redact_pii`` stays in the library for the mask-token rendering
its tests pin.

Reference analogue: none (SURVEY.md §2 — no document model);
beyond-parity curation machinery beside decontamination and quality
scoring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Patterns restricted to syntax Java regex compiles identically to
# the usual RE2-style engines (no backreferences, no lookaround):
# the pytest model pin runs them through python `re` verbatim.
#
# IPv4 precision: octets are range-checked to 0-255,
# so '999.999.999.999' and '256.1.2.3' no longer count or redact.
# Zero-PADDED octets stay matched ('192.168.01.1', '010.001.002.003'
# — fixed-width log formats emit these and most parsers accept them;
# a PII scrubber keeps the recall).  One over-match family is
# DELIBERATELY kept (recall over precision): a valid dotted quad
# embedded in a longer dotted numeric still matches — both as a
# PREFIX ('1.2.3.4.5' redacts its '1.2.3.4') and as a SUFFIX
# ('1234.1.2.3.4' redacts its '1.2.3.4', since \\b holds between '.'
# and a digit) — excluding either polarity needs lookaround, which
# the RE2-safe dialect above forbids, and a version string embedding
# a full in-range quad is the rarer, safer false positive than
# missing real addresses would be.
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|0[0-9]{1,2}|[1-9]?[0-9])"
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "card": r"\b\d{4}-\d{4}-\d{4}-\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": rf"\b{_OCTET}(?:\.{_OCTET}){{3}}\b",
}

# replacement order matters only in that card must precede ssn/phone
# (defense in depth — the word boundaries already prevent a phone or
# ssn match inside a card, but order makes it structural; ssn's 3-2-4
# grouping and phone's 3-3-4 cannot match each other)
_SCRUB_ORDER = ("email", "card", "ssn", "phone", "ipv4")


def _luhn_valid(card: Column) -> Column:
    """Pure-integer Luhn fold over a card string's digits (separators
    stripped): double every second digit from the RIGHT, subtract 9
    when the double exceeds 9, valid iff the sum is ≡ 0 (mod 10)."""
    d = F.regexp_replace(card, "[^0-9]", "")
    chars = F.split(d, "")

    def dig(i):
        return F.ascii(F.element_at(chars, i)) - F.lit(48)

    total = F.aggregate(
        F.sequence(F.lit(1), F.length(d)), F.lit(0),
        lambda acc, i: acc + F.when(
            (F.length(d) - i) % 2 == 1,
            F.when(dig(i) * 2 > 9, dig(i) * 2 - 9)
            .otherwise(dig(i) * 2)).otherwise(dig(i)))
    return total % 10 == 0


def pii_scrub(df: DataFrame, text_col: str, id_col: str,
              placeholder: str = "[{kind}]") -> DataFrame:
    """``(id_col, n_emails, n_ssn, n_phones, n_ipv4, n_cards,
    n_cards_luhn, clean_md5)`` — per-document PII counts (measured
    on the ORIGINAL text) plus the md5 of the scrubbed rendering,
    every match replaced by ``placeholder`` with ``{kind}`` = EMAIL/
    CARD/SSN/PHONE/IP.  Row-local end to end; the md5 is the
    registered-surface
    scalar rendering of the scrubbed text (emit the text itself via
    ``scrub_text`` when the pipeline needs it)."""
    counts = {
        k: F.size(F.regexp_extract_all(
            F.col(text_col), F.lit(p), F.lit(0))).cast("long")
        for k, p in PII_PATTERNS.items()}
    cards = F.regexp_extract_all(
        F.col(text_col), F.lit(PII_PATTERNS["card"]), F.lit(0))
    luhn = F.size(F.filter(cards, _luhn_valid)).cast("long")
    return df.select(
        F.col(id_col),
        counts["email"].alias("n_emails"),
        counts["ssn"].alias("n_ssn"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ipv4"),
        counts["card"].alias("n_cards"),
        luhn.alias("n_cards_luhn"),
        F.md5(scrub_text(F.col(text_col),
                         placeholder=placeholder)).alias("clean_md5"))


def scrub_text(text: Column, placeholder: str = "[{kind}]") -> Column:
    """The redacted text column itself — sequential ``regexp_replace``
    over the pattern family in ``_SCRUB_ORDER`` (card before
    ssn/phone)."""
    label = {"email": "EMAIL", "card": "CARD", "ssn": "SSN",
             "phone": "PHONE", "ipv4": "IP"}
    out = text
    for k in _SCRUB_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k],
                               placeholder.format(kind=label[k]))
    return out


# ---------------------------------------------------------------------------
# Deterministic PII synthesis + arithmetic oracle (the synth_media
# discipline): injections and their redacted rendering derive from
# the id alone, so the DuckDB replay needs no regex.
# ---------------------------------------------------------------------------


def synth_pii_text(df: DataFrame, id_col: str) -> DataFrame:
    """``(id_col, text)`` — deterministic per-id PII injections:
    ids ≡ 0 (mod 3) carry an email, ≡ 1 (mod 7) an SSN, ≡ 0 (mod 4)
    a phone, ≡ 0 (mod 5) an IPv4, ≡ 0 (mod 6) a Luhn-VALID card and ≡ 3 (mod 6) the same
    card with the check digit bumped (+1 mod 10 — shape matches,
    Luhn must reject).  Built with Catalyst string expressions (no
    UDF): the check digit itself is the Luhn fold run in reverse over
    the deterministic 15-digit payload."""
    i = F.col(id_col).cast("long")
    payload = F.concat(
        F.lit("4"),
        F.lpad(((i * 87654321) % F.lit(100000000000000))
               .cast("string"), 14, "0"))
    chars = F.split(payload, "")

    def dig(j):
        return F.ascii(F.element_at(chars, j)) - F.lit(48)

    # check digit: payload digit j (1..15) sits at distance 16 − j
    # from the right of the FULL 16-digit number (the check digit is
    # distance 0), and Luhn doubles the odd distances.
    psum = F.aggregate(
        F.sequence(F.lit(1), F.lit(15)), F.lit(0),
        lambda acc, j: acc + F.when(
            (F.lit(16) - j) % 2 == 1,
            F.when(dig(j) * 2 > 9, dig(j) * 2 - 9)
            .otherwise(dig(j) * 2)).otherwise(dig(j)))
    check = (F.lit(10) - psum % 10) % 10
    card = F.concat(
        F.substring(payload, 1, 4), F.lit("-"),
        F.substring(payload, 5, 4), F.lit("-"),
        F.substring(payload, 9, 4), F.lit("-"),
        F.substring(payload, 13, 3),
        F.when(i % 6 == 0, check)
        .otherwise((check + 1) % 10).cast("string"))
    text = F.concat(
        F.lit("log "), i.cast("string"), F.lit(" start"),
        F.when(i % 3 == 0, F.concat(
            F.lit(" user"), i.cast("string"),
            F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(i % 7 == 1, F.concat(
            F.lit(" "),
            F.lpad((100 + i % 900).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((10 + i % 90).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((1000 + i % 9000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
        F.when(i % 4 == 0, F.concat(
            F.lit(" 555-"),
            F.lpad((100 + i % 900).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((1000 + i % 9000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(
            F.lit(" 10."), (i % 256).cast("string"), F.lit("."),
            ((i * 7) % 256).cast("string"), F.lit("."),
            ((i * 13) % 256).cast("string"))).otherwise(F.lit("")),
        F.when((i % 6 == 0) | (i % 6 == 3),
               F.concat(F.lit(" "), card)).otherwise(F.lit("")),
        F.lit(" end"))
    return df.select(F.col(id_col), text.alias("text"))


def synth_pii_scrub_oracle_sql(table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """DuckDB replay of ``pii_scrub(synth_pii_text(df, id))`` by id
    ARITHMETIC alone — counts from the injection modulos (the invalid
    card counts in n_cards but not n_cards_luhn), the scrubbed text
    rebuilt by concatenating the same parts with placeholders, then
    md5'd.  No SQL regex anywhere: a match proves the engine's
    regexes, scrub order, Luhn fold and rendering."""
    return f"""
    WITH ids AS (SELECT DISTINCT {id_col} AS i FROM {table}),
    c AS (
      SELECT i,
             CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS e,
             CASE WHEN i % 7 = 1 THEN 1 ELSE 0 END AS s,
             CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS p,
             CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END AS ip,
             CASE WHEN i % 6 = 0 OR i % 6 = 3 THEN 1 ELSE 0 END
               AS cd,
             CASE WHEN i % 6 = 0 THEN 1 ELSE 0 END AS cl
      FROM ids),
    txt AS (
      SELECT i, e, s, p, ip, cd, cl,
             'log ' || i || ' start'
             || CASE WHEN e = 1 THEN ' [EMAIL]' ELSE '' END
             || CASE WHEN s = 1 THEN ' [SSN]' ELSE '' END
             || CASE WHEN p = 1 THEN ' [PHONE]' ELSE '' END
             || CASE WHEN ip = 1 THEN ' [IP]' ELSE '' END
             || CASE WHEN cd = 1 THEN ' [CARD]' ELSE '' END
             || ' end' AS clean
      FROM c)
    SELECT i AS {id_col},
           e::BIGINT AS n_emails,
           s::BIGINT AS n_ssn,
           p::BIGINT AS n_phones,
           ip::BIGINT AS n_ipv4,
           cd::BIGINT AS n_cards,
           cl::BIGINT AS n_cards_luhn,
           md5(clean) AS clean_md5
    FROM txt
    """
