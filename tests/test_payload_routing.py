"""Payload-kind routing: the kernel and its JVM expression twin must agree,
and prose that merely *mentions* markup must stay plain (code-review
regression: '<html' anywhere used to swallow the whole turn)."""
from pyspark.sql import functions as F

from pdf_extractor_spark.kernels.segment import detect_payload_kind, extract_turn
from pdf_extractor_spark.plans.pipeline import extract_transcripts

CASES = [
    ("start with the <html> tag, then add <head>", "plain"),
    ("prose then <html><body><p>%s</p></body></html>" % ("content " * 10), "html"),
    ("<!DOCTYPE HTML><html><body><p>%s</p></body></html>" % ("x " * 30), "html"),
    ("</html> alone is not a document", "plain"),
    ("see data:application/pdf;base64,aGVsbG8= inline", "pdf"),
    ("plain words only", "plain"),
    ("", "plain"),
    # pdf prefix wins even when html markers are present
    ("data:application/pdf;base64,QUJD <html></html>", "pdf"),
    # layout dialect routes distinctly, and wins over pdf/html markers
    ("see data:application/vnd.layout+json;base64,e30= inline", "layout"),
    ("data:application/vnd.layout+json;base64,e30= and "
     "data:application/pdf;base64,QUJD <html></html>", "layout"),
]


def test_kernel_kind_detection():
    for text, expected in CASES:
        assert detect_payload_kind(text) == expected, text[:40]


def test_mentioning_html_keeps_text_verbatim():
    text = "To build a page, start with the <html> tag, then add <head> and <body>."
    r = extract_turn(text)
    assert r["kind"] == "plain"
    assert r["extracted_text"] == text


def _result_fields(r):
    """One extract_transcripts row in the kernel's result shape."""
    return {
        "kind": r["kind"],
        "n_pages": r["n_pages"],
        "extracted_text": r["extracted_text"],
        "spans": [(sp["offset"], sp["length"]) for sp in r["spans"]],
        "problems": list(r["problems"]),
        "sections": [
            (s["title"], s["page"], s["end_page"]) for s in r["sections"]
        ],
        "repaired_pages": list(r["repaired_pages"]),
        "valid": r["valid"],
    }


def _kernel_fields(text):
    g = extract_turn(text)
    g["sections"] = [
        (s["title"], s["page"], s["end_page"]) for s in g["sections"]
    ]
    return g


def test_router_expr_matches_kernel(spark):
    """Every result field, plain rows included: the JVM router plus the
    one plain-row struct must agree with the kernel, null and empty text
    too."""
    texts = [t for t, _ in CASES] + [None]  # CASES holds "" already
    rows = [("c", i, "assistant", t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        r["turn_idx"]: _result_fields(r)
        for r in extract_transcripts(df).collect()
    }
    for i, (text, expected) in enumerate(CASES):
        assert got[i]["kind"] == expected, text[:40]
    for i, text in enumerate(texts):
        assert got[i] == _kernel_fields(text), repr(text)[:40]


def test_every_field_matches_kernel_on_generated_corpus(spark):
    """The golden corpus through extract_transcripts: sections, repaired
    pages and validity agree with the kernel too, not only text and spans."""
    from pdf_extractor_spark.sources.transcripts import generate_local, transcripts_df

    golden = generate_local(12, 42)
    got = {
        (r["conv_id"], r["turn_idx"]): _result_fields(r)
        for r in extract_transcripts(transcripts_df(spark, 12, 42)).collect()
    }
    assert len(got) == len(golden)
    for row in golden:
        key = (row["conv_id"], row["turn_idx"])
        assert got[key] == _kernel_fields(row["text"]), key


def test_adopted_repair_reports_problems_fixed(spark):
    """A turn whose page repair is kept makes its conversation's
    validation status ``problems_fixed`` through the Spark pipeline."""
    import base64

    from pdf_extractor_spark.plans.pipeline import validation_report

    body = "| a | b |\nword 12 \n345 more\n" + "   \n" * 40 + "end"
    payload = "data:application/pdf;base64," + base64.b64encode(
        ("%PDF-1.7\n" + body).encode()
    ).decode()
    df = spark.createDataFrame(
        [("c", 0, "user", "read this", None, None),
         ("c", 1, "assistant", payload, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    extracted = extract_transcripts(df)
    repaired = {
        r["turn_idx"]: list(r["repaired_pages"]) for r in extracted.collect()
    }
    assert repaired == {0: [], 1: [0]}
    (report,) = validation_report(extracted).collect()
    assert report["overall_status"] == "problems_fixed"
    assert report["n_fixed"] == 1
