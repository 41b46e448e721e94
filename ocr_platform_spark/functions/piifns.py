"""PII scrubbing for web-corpus curation — pure column expressions.

The classic pre-training redaction pass (C4/Dolma-style): replace email
addresses, IPv4 addresses, and US-shaped phone numbers with typed
placeholders, and count what was removed so the curation report can track
redaction rates per source. Everything is JVM-side ``regexp_replace`` /
``regexp_extract_all`` — no Python in the loop, and every pattern is
written in the regex subset Java and RE2 (DuckDB) share (no lookaround, no
backreferences), so the driver's oracle comparison verifies the redacted
bytes exactly.

Chain order is part of the contract: **email → IPv4 → phone**, each stage
matching against the previous stage's output. An email's local part may
embed phone-shaped digit runs (``a212-555-0199@x.com``) — redacting emails
first means those bytes are gone before the phone pattern looks, keeping
the counts disjoint. (An IP-domain address like ``user@10.0.0.1`` is NOT
an email to EMAIL_RE — it requires an alphabetic TLD — so that case is
counted by the IPv4 stage as ``user@<IP>``; the chain order does not
change it.)

The reference has no redaction pass (it stores extracted values verbatim);
this module is part of the engine's own training-data surface
(SURVEY §2 "beyond-reference" text ops).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Conservative, cross-engine-identical patterns. \b is supported by both
# Java regex and RE2; {m,n} quantifiers and non-capturing groups likewise.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# US-shaped: optional +1 / 1- prefix, (area) or area, then 3-4 split.
# Anchored at BOTH ends without lookaround: digit-led starts carry \b (a
# longer digit run like '123456 789-0123' must not have its tail
# redacted), '+' and '(' starts need none; area parens must balance.
PHONE_RE = (
    r"(?:\+1[ .\-]?|\b1[ .\-])?(?:\(\d{3}\)|\b\d{3})[ .\-]\d{3}[ .\-]?\d{4}\b"
)

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"

# (name, pattern, replacement) in chain order.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", EMAIL_RE, EMAIL_TOKEN),
    ("ipv4", IPV4_RE, IPV4_TOKEN),
    ("phone", PHONE_RE, PHONE_TOKEN),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _count(expr: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(expr, F.lit(pattern), F.lit(0))).cast("int")


def scrub_pii(col: Column | str) -> Column:
    """Redacted text: the full email → IPv4 → phone replacement chain."""
    x = _c(col)
    for _name, pattern, token in PII_RULES:
        x = F.regexp_replace(x, pattern, token)
    return x


def pii_counts(col: Column | str) -> list[tuple[str, Column]]:
    """``[(rule_name, count_column)]`` — each rule counted against the text
    as it stood when that rule ran (the chain semantics, so the counts sum
    to the number of placeholders actually emitted)."""
    x = _c(col)
    out: list[tuple[str, Column]] = []
    for name, pattern, token in PII_RULES:
        out.append((name, _count(x, pattern)))
        x = F.regexp_replace(x, pattern, token)
    return out


def has_pii(col: Column | str) -> Column:
    """True when any rule would fire — the cheap pre-filter: a corpus pass
    can skip the 3-stage replace chain for the (majority) clean rows."""
    x = _c(col)
    pred = F.lit(False)
    for _name, pattern, _token in PII_RULES:
        pred = pred | x.rlike(pattern)
    return pred


# -- payment-card detection (Luhn-verified) ---------------------------------
#
# Card-shaped digit runs are too common in web text (timestamps, order ids)
# to redact on shape alone; the industry-standard disambiguator is the Luhn
# checksum every real card number satisfies. The policy here:
#   scrub  — redact ALL card-shaped runs (13-19 digits, optional space/dash
#            separators): privacy-conservative, pure regexp_replace;
#   counts — report shaped vs Luhn-VALID separately, so the redaction
#            false-positive rate is observable per source.
# The Luhn check itself is pure integer column arithmetic (digit array via
# generate_series + substr), with a DuckDB twin generated here so the two
# engines can never drift (one single source for both).

CC_RE = r"\b(?:\d[ \-]?){12,18}\d\b"
CC_TOKEN = "<CARD>"


def scrub_cards(col: Column | str) -> Column:
    """Redact every card-shaped run (shape-based — see policy note)."""
    return F.regexp_replace(_c(col), CC_RE, CC_TOKEN)


def _luhn_ok(cand: Column) -> Column:
    """Luhn checksum over a candidate string (separators stripped)."""
    ds = F.regexp_replace(cand, r"[^0-9]", "")
    n = F.length(ds)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            ((n - i) % 2) == 1,  # doubled positions (2nd from right, ...)
            F.when(
                ds.substr(i, F.lit(1)).cast("int") * 2 > 9,
                ds.substr(i, F.lit(1)).cast("int") * 2 - 9,
            ).otherwise(ds.substr(i, F.lit(1)).cast("int") * 2),
        ).otherwise(ds.substr(i, F.lit(1)).cast("int")),
    )
    return (total % 10) == 0


def card_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_card_shaped, n_luhn_valid) for a text column."""
    cands = F.regexp_extract_all(_c(col), F.lit(CC_RE), F.lit(0))
    n_shaped = F.size(cands).cast("int")
    n_valid = F.size(F.filter(cands, _luhn_ok)).cast("int")
    return n_shaped, n_valid


def luhn_ok_sql(cand: str) -> str:
    """DuckDB twin of :func:`_luhn_ok` over a candidate expression."""
    ds = f"regexp_replace({cand}, '[^0-9]', '', 'g')"
    return (
        "(CAST(list_sum(list_transform(generate_series(1, length(" + ds + ")), "
        "i -> CASE WHEN (length(" + ds + ") - i) % 2 = 1 "
        "THEN CASE WHEN CAST(substr(" + ds + ", i, 1) AS INT) * 2 > 9 "
        "THEN CAST(substr(" + ds + ", i, 1) AS INT) * 2 - 9 "
        "ELSE CAST(substr(" + ds + ", i, 1) AS INT) * 2 END "
        "ELSE CAST(substr(" + ds + ", i, 1) AS INT) END)) AS BIGINT) % 10 = 0)"
    )


def card_counts_sql(col: str) -> tuple[str, str]:
    """DuckDB twins of :func:`card_counts` (n_shaped, n_valid)."""
    cands = f"regexp_extract_all({col}, '{CC_RE}')"
    n_shaped = f"CAST(len({cands}) AS INT)"
    n_valid = (
        f"CAST(len(list_filter({cands}, c -> {luhn_ok_sql('c')})) AS INT)"
    )
    return n_shaped, n_valid


def scrub_cards_sql(col: str) -> str:
    return f"regexp_replace({col}, '{CC_RE}', '{CC_TOKEN}', 'g')"
