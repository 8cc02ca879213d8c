"""Number extraction/parsing fixtures ported from
/root/reference/tests/test_validation_service.py:72-127 (semantics only)."""
from pdf_extractor_spark.kernels.numbers import extract_numbers, parse_number


def test_thousands_separators():
    assert extract_numbers("Revenue was 1,234,567 this year") == ["1234567"]


def test_decimals_and_percent():
    assert extract_numbers("growth of 12.5% and price 123.45") == ["12.5", "123.45"]


def test_negative_numbers():
    assert extract_numbers("loss of -500 and -1,234") == ["-500", "-1234"]


def test_currency_symbols():
    assert extract_numbers("$1,000 / ₪5,000 / €3,000") == ["1000", "5000", "3000"]


def test_european_format():
    assert extract_numbers("total 1.234.567,89 euro") == ["1234567.89"]


def test_european_decimal_comma():
    assert extract_numbers("price 123,45") == ["123.45"]


def test_hebrew_context():
    assert extract_numbers("סך הכל 1,234,567 שקלים בשנת 2024") == ["1234567", "2024"]


def test_no_numbers():
    assert extract_numbers("no numbers here at all") == []


def test_empty():
    assert extract_numbers("") == []


def test_parse_number_us():
    assert parse_number("1,234.56") == 1234.56


def test_parse_number_eu():
    assert parse_number("1.234,56") == 1234.56


def test_parse_number_parens_negative():
    assert parse_number("(123.45)") == -123.45


def test_parse_number_currency():
    assert parse_number("₪1,234") == 1234.0


def test_parse_number_shekel_negative():
    assert parse_number("₪ -248,422.21") == -248422.21


def test_parse_number_invalid():
    assert parse_number("") is None
    assert parse_number(None) is None
    assert parse_number("abc") is None


def test_has_extractable_number_parity():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.kernels.numbers import (
        extract_numbers,
        has_extractable_number,
    )

    cases = [
        "", "no numbers here", "| a | b |", "1,234.56", "1.234,56",
        "only , and . dots", "-5%", "₪100", "1 234 567", "..,,--",
        "abc 12.34.56 def", "(42)",
    ]
    for s in cases:
        assert has_extractable_number(s) == bool(extract_numbers(s))

    @given(st.text(alphabet="0123456789.,-%| abc₪\n", max_size=60))
    @settings(max_examples=300, deadline=None)
    def prop(s):
        assert has_extractable_number(s) == bool(extract_numbers(s))

    prop()


def test_currency_strip_parity():
    """Stripping currency only when a symbol is present gives what the
    unconditional regex strip gave, for both number scanners."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.kernels import numbers as N

    old_re = re.compile(r"[₪$€£¥₹₪]")

    def old_extract(text):
        if not text:
            return []
        out = []
        for m in N._NUMBER_RE.findall(old_re.sub("", text)):
            num = N._normalize_separators(m.rstrip("%")).replace(" ", "")
            try:
                float(num)
            except ValueError:
                continue
            out.append(num)
        return out

    @given(st.text(alphabet="0123456789.,-% |ab\nש₪$€£¥₹", max_size=60))
    @settings(max_examples=400, deadline=None)
    def prop(s):
        assert N.extract_numbers(s) == old_extract(s)
        assert N.has_extractable_number(s) == bool(old_extract(s))

    prop()
