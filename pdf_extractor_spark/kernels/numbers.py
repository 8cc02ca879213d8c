"""Number extraction/parsing kernels with US/EU separator disambiguation.

Behavioral parity targets:
- extract_numbers: /root/reference/src/services/validation/content_normalizer.py:30-121
- parse_number:    /root/reference/scripts/classify_debit_credit.py:29-78
Fixture expectations: /root/reference/tests/test_validation_service.py:72-127.
"""
from __future__ import annotations

import re
from typing import List, Optional

_CURRENCY_SYMBOLS = "₪$€£¥₹"
_CURRENCY_RE = re.compile(f"[{re.escape(_CURRENCY_SYMBOLS)}]")
# Digits, optional 3-digit groups split by , . or space, optional decimal
# tail, optional %; _NUMBER_RE adds the optional minus.
_UNSIGNED_NUMBER_RE = re.compile(r"\d+(?:[,\.\s]\d{3})*(?:[,\.]\d+)?%?")
_NUMBER_RE = re.compile("-?" + _UNSIGNED_NUMBER_RE.pattern)


def _strip_currency(text: str) -> str:
    """``text`` without currency symbols. Most pages hold none, and a
    substring test per symbol is a memchr (or, for a symbol wider than the
    string's storage kind, no scan at all), where the regex steps through
    every character."""
    if any(c in text for c in _CURRENCY_SYMBOLS):
        return _CURRENCY_RE.sub("", text)
    return text


def _normalize_separators(num: str) -> str:
    """Resolve thousands/decimal separators: the *last* separator wins as the
    decimal point when both are present; a single trailing comma group of <=2
    digits is a European decimal; multiple periods are EU thousands."""
    periods = num.count(".")
    commas = num.count(",")
    if commas and periods:
        if num.rfind(",") > num.rfind("."):
            num = num.replace(".", "").replace(",", ".")  # 1.234,56 -> 1234.56
        else:
            num = num.replace(",", "")  # 1,234.56 -> 1234.56
    elif commas:
        tail = num[num.rfind(",") + 1:]
        if commas == 1 and len(tail) <= 2 and tail.isdigit():
            num = num.replace(",", ".")  # 123,45 -> 123.45
        else:
            num = num.replace(",", "")  # 1,234,567 -> 1234567
    elif periods > 1:
        parts = num.split(".")
        if len(parts[-1]) <= 2:
            num = "".join(parts[:-1]) + "." + parts[-1]  # 1.234.567,?? handled above
        else:
            num = num.replace(".", "")
    return num


def extract_numbers(text: str) -> List[str]:
    """Extract all numbers from text as normalized strings (no grouping
    separators, ``.`` decimal point, ``%`` stripped)."""
    if not text:
        return []
    cleaned = _strip_currency(text)
    out: List[str] = []
    for match in _NUMBER_RE.findall(cleaned):
        num = _normalize_separators(match.rstrip("%")).replace(" ", "")
        try:
            float(num)
        except ValueError:
            continue
        out.append(num)
    return out


def has_extractable_number(text: str) -> bool:
    """True iff ``extract_numbers(text)`` would be non-empty, stopping at the
    first surviving match instead of materializing them all (the hot caller,
    detect_missing_numbers, only needs emptiness). It scans for unsigned
    matches: a sign moves neither where the digits match nor whether
    float() accepts them, and a pattern that starts with a digit class lets
    sre skip straight to the digits."""
    if not text:
        return False
    cleaned = _strip_currency(text)
    for match in _UNSIGNED_NUMBER_RE.finditer(cleaned):
        num = _normalize_separators(match.group().rstrip("%")).replace(" ", "")
        try:
            float(num)
        except ValueError:
            continue
        return True
    return False


_NON_NUMERIC_RE = re.compile(r"[^\d.,\-]")


def parse_number(text: Optional[str]) -> Optional[float]:
    """Parse one formatted money/number string to float.

    Parentheses mean negative; currency symbols stripped; a single comma within
    the last three characters is a decimal comma.
    """
    if not text or not isinstance(text, str):
        return None
    s = text.strip().replace("₪", "").replace("$", "").replace("€", "").strip()
    negative = s.startswith("(") and s.endswith(")")
    if negative:
        s = s[1:-1]
    cleaned = _NON_NUMERIC_RE.sub("", s)
    if not cleaned:
        return None
    if "." in cleaned and "," in cleaned:
        if cleaned.rindex(".") > cleaned.rindex(","):
            cleaned = cleaned.replace(",", "")
        else:
            cleaned = cleaned.replace(".", "").replace(",", ".")
    elif "," in cleaned:
        if cleaned.index(",") > len(cleaned) - 4:
            cleaned = cleaned.replace(",", ".")
        else:
            cleaned = cleaned.replace(",", "")
    try:
        value = float(cleaned)
    except ValueError:
        return None
    return -value if negative else value
