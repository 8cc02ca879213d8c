"""Assembly/segmentation kernel tests: byte-exact combine semantics from
/root/reference/src/core/utils.py:112-161 and pdf_processor chunk logic."""
import base64

from pdf_extractor_spark.config import MARKDOWN_SECTION_SEPARATOR
from pdf_extractor_spark.kernels.segment import (
    combine_markdown_sections,
    combine_with_spans,
    detect_payload_kind,
    extract_turn,
    format_page_header,
    parse_outline_toc,
    sections_from_outlines,
    split_pages,
)


def test_combine_empty():
    assert combine_markdown_sections([]) == "# No content extracted\n\n"


def test_combine_singleton_not_stripped():
    assert combine_markdown_sections(["  raw  "]) == "  raw  "


def test_combine_strips_and_joins():
    out = combine_markdown_sections(["# Page 1\n\nContent  ", "  # Page 2\n\nMore"])
    assert out == "# Page 1\n\nContent\n\n---\n\n# Page 2\n\nMore"


def test_combine_drops_empty_sections():
    out = combine_markdown_sections(["a", "   ", "b"])
    assert out == "a\n\n---\n\nb"


def test_combine_with_spans_matches_combine():
    sections = ["first section  ", "", "  second part", "third"]
    combined, spans = combine_with_spans(sections)
    assert combined == combine_markdown_sections(sections)
    for section, (off, length) in zip(sections, spans):
        if off >= 0:
            assert combined[off:off + length] == section.strip()


def test_format_page_header():
    assert format_page_header(0) == "# Page 1\n\n"
    assert format_page_header(5, zero_based=False) == "# Page 5\n\n"


def test_parse_outline_toc():
    content = "== Intro @ page 0 ==\n== Detail @ page 2 ==\n# Page 1\n\nbody"
    outlines, rest = parse_outline_toc(content)
    assert [o["title"] for o in outlines] == ["Intro", "Detail"]
    assert rest.startswith("# Page 1")


def test_split_pages_sorted():
    content = ("# Page 2\n\nsecond" + MARKDOWN_SECTION_SEPARATOR + "# Page 1\n\nfirst")
    pages = split_pages(content)
    assert [p[0] for p in pages] == [0, 1]
    assert pages[0][1] == "first"


def test_sections_from_outlines_limit_four():
    outlines = [{"title": f"t{i}", "page": i * 10} for i in range(6)]
    sections = sections_from_outlines(outlines, 60)
    assert len(sections) == 4
    assert sections[0]["end_page"] == 10
    assert sections[3]["end_page"] == 60
    assert sections[1]["chunk_indices"] == [0, 1]  # pages 10..19 span chunks 0-1


def _encode_pdf(body: str) -> str:
    raw = "%PDF-1.7\n" + body
    return "data:application/pdf;base64," + base64.b64encode(raw.encode()).decode()


def test_detect_payload_kind():
    assert detect_payload_kind("plain words") == "plain"
    assert detect_payload_kind("<html><body>x</body></html>") == "html"
    assert detect_payload_kind(_encode_pdf("# Page 1\n\nx")) == "pdf"


def test_extract_turn_plain():
    out = extract_turn("hello world")
    assert out["kind"] == "plain"
    assert out["extracted_text"] == "hello world"
    assert out["spans"] == [(0, 11)]


def test_extract_turn_pdf_two_pages():
    body = ("# Page 1\n\n" + "Account balance total 123,456.78 " * 10
            + MARKDOWN_SECTION_SEPARATOR
            + "# Page 2\n\n" + "Transaction payment amount 999.99 " * 10)
    out = extract_turn(_encode_pdf(body))
    assert out["kind"] == "pdf"
    assert out["valid"]
    assert out["n_pages"] == 2
    assert out["extracted_text"].startswith("# Page 1\n\n")
    assert "# Page 2" in out["extracted_text"]
    # spans point at the kept page strings
    for off, length in out["spans"]:
        assert out["extracted_text"][off:off + 7] == "# Page "


def test_extract_turn_invalid_magic():
    payload = "data:application/pdf;base64," + base64.b64encode(b"NOTPDF").decode()
    out = extract_turn(payload)
    assert not out["valid"]
    assert out["problems"] == ["invalid_magic"]


def test_extract_turn_invalid_base64():
    # '!' is outside the b64 alphabet so the greedy match ends early but the
    # prefix decodes; use an odd-length clean payload to force a decode error.
    payload = "data:application/pdf;base64,abcde"
    out = extract_turn(payload)
    assert not out["valid"]
    assert out["problems"] == ["invalid_base64"]


def test_extract_turn_html():
    html = (
        "<html><head><title>t</title></head><body>"
        "<nav><a href='/'>Home</a><a href='/x'>X</a></nav>"
        "<div>This is the real main content paragraph of the page, long enough.</div>"
        "<footer><a href='/a'>a</a> <a href='/b'>b</a></footer>"
        "</body></html>"
    )
    out = extract_turn(html)
    assert out["kind"] == "html"
    assert "real main content" in out["extracted_text"]
    assert "Home" not in out["extracted_text"]
    for off, length in out["spans"]:
        assert len(out["extracted_text"][off:off + length]) == length


def test_extract_turn_problem_detection_and_repair():
    # A page failing low_content_density triggers detection; repair only
    # replaces when similarity drops below threshold (trailing-ws repair keeps
    # numbers identical -> similarity 1.0 -> not replaced).
    body = "# Page 1\n\ntiny"
    out = extract_turn(_encode_pdf(body))
    assert any("low_content_density" in p for p in out["problems"])


# A page the repair is kept for: the strip of the 40 blank lines shortens
# the page by more than 5%, so quick_similarity returns 0; after the
# repair "12\n345" joins into one grouped number that float() rejects, so
# the number-frequency cosine is 0.0 and the repaired page is adopted.
REPAIRED_BODY = "| a | b |\nword 12 \n345 more\n" + "   \n" * 40 + "end"


def test_extract_turn_adopts_repair():
    out = extract_turn(_encode_pdf(REPAIRED_BODY))
    assert out["repaired_pages"] == [0]
    assert "page0:image_repaired" not in out["problems"]


def test_extract_turn_adopts_image_aware_repair():
    out = extract_turn(_encode_pdf("![chart](fig.png)\n" + REPAIRED_BODY))
    assert out["repaired_pages"] == [0]
    assert "page0:image_repair_route" in out["problems"]
    assert "page0:image_repaired" in out["problems"]
