"""PII / secret redaction — pure-codegen text scrubbing for training-data
pipelines (no analog in the reference repo).

Every pattern is a chained JVM ``regexp_replace`` plus a ``regexp_count``
metadata column, so the whole operator stays inside whole-stage codegen:
no Python, no shuffle, scales linearly with the scan.  Patterns are
deliberately conservative (precision over recall) — the counts columns
exist so a quality gate can route high-PII documents to a heavier pass.

Pattern notes:
- email: RFC-lite local@domain.tld
- phone: NANP-ish 10-digit groupings with separators (requires a
  delimiter or +1 prefix so plain 10-digit ids aren't eaten)
- ipv4: dotted quad with 0-255 octets enforced by boundary checks
- ssn: ddd-dd-dddd with hyphens only (unhyphenated 9-digit numbers are
  too ambiguous)
- api_key: long base64/hex-ish tokens with a recognizable prefix
  (AKIA / sk- / ghp_ / xox) — the high-precision secret shapes
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?1[\s\-\.])?\(?\d{3}\)?[\s\-\.]\d{3}[\s\-\.]\d{4}",
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
            r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "api_key": r"\b(?:AKIA[0-9A-Z]{16}|sk-[A-Za-z0-9]{20,}|"
               r"ghp_[A-Za-z0-9]{36}|xox[baprs]-[A-Za-z0-9\-]{10,})\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str,
    keep_original: bool = False,
) -> DataFrame:
    """Redact every PII/secret pattern in ``text_col`` in place as
    ``[<kind>]`` (or alongside, with ``keep_original=True`` ->
    ``<col>_raw``), adding ``pii_<kind>`` count columns (JVM-side
    ``regexp_count``) and a ``pii_total`` rollup.  The replacements chain in
    the declared order, so e.g. emails are replaced before phone rules see
    the text."""
    out = df
    for k, pattern in PII_PATTERNS.items():
        out = out.withColumn(f"pii_{k}", F.regexp_count(F.col(text_col), F.lit(pattern)))
    out = out.withColumn(
        "pii_total",
        sum((F.col(f"pii_{k}") for k in PII_PATTERNS), F.lit(0)),
    )
    if keep_original:
        out = out.withColumn(f"{text_col}_raw", F.col(text_col))
    text = F.col(text_col)
    for k, pattern in PII_PATTERNS.items():
        text = F.regexp_replace(text, pattern, f"[{k}]")
    return out.withColumn(text_col, text)


# ---------------------------------------------------------------------------
# Credit cards — two-stage: codegen regex prefilter, Luhn-checked redaction
# ---------------------------------------------------------------------------

# candidate shapes: 4-4-4-4 grouped (space/hyphen) or a contiguous 13-19
# digit run.  Deliberately loose — Luhn decides; a random digit run passes
# Luhn only ~10% of the time, so precision comes from the checksum, recall
# from the loose shape.
CC_CANDIDATE = r"(?:\b(?:\d{4}[ \-]){3}\d{4}\b|\b\d{13,19}\b)"


def luhn_valid(digits: str) -> bool:
    """Luhn checksum over a pure-digit string (ISO/IEC 7812)."""
    if not digits.isdigit() or not 13 <= len(digits) <= 19:
        return False
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def redact_credit_cards(df: DataFrame, text_col: str) -> DataFrame:
    """Redact Luhn-valid card numbers as ``[credit_card]``; adds
    ``pii_credit_card``.

    Luhn isn't regex-expressible, so this is the one redaction with a
    Python stage — kept off the hot path by a two-stage split: a JVM
    ``regexp_count`` prefilter routes candidate-free rows (the overwhelming
    majority of a real corpus) through a pure-codegen branch that never
    crosses into Arrow; only flagged rows pay the pandas-UDF Luhn check.
    At 100 TB the source is scanned twice (the regex can't push down), but
    each branch is one codegen stage and Python sees only the minority."""
    import re

    from pyspark.sql import types as T

    cc_re = re.compile(CC_CANDIDATE)

    def _luhn_batches(batches):
        for pdf in batches:
            reds, ns = [], []
            for t in pdf[text_col]:
                if t is None:
                    reds.append(None)
                    ns.append(0)
                    continue
                n = 0

                def sub(m: re.Match) -> str:
                    nonlocal n
                    if luhn_valid(re.sub(r"[ \-]", "", m.group(0))):
                        n += 1
                        return "[credit_card]"
                    return m.group(0)

                reds.append(cc_re.sub(sub, t))
                ns.append(n)
            pdf = pdf.assign(**{text_col: reds, "pii_credit_card": ns})
            yield pdf

    # coalesce: regexp_count(NULL) is NULL, which would drop NULL-text rows
    # from BOTH branches of the split
    cand = F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(CC_CANDIDATE)), F.lit(0)
    )
    base = df.withColumn("_cc_cand", cand)
    clean = base.where(F.col("_cc_cand") == 0).withColumn(
        "pii_credit_card", F.lit(0)
    )
    flagged_schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("pii_credit_card", T.IntegerType())]
    )
    flagged = base.where(F.col("_cc_cand") > 0).mapInPandas(
        _luhn_batches, schema=flagged_schema
    )
    return clean.unionByName(flagged).drop("_cc_cand")
