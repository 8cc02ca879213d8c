"""Arrow-batched UDFs wrapping the pure kernels.

UDFs are the slow path: everything expressible with built-in functions lives
in ``expressions.py`` instead. What remains here is genuinely non-SQL logic:
the extraction kernel (payload decode + segmentation + detect/repair +
byte-exact assembly, with the fused detector suite and number-frequency
similarity inside it), EU/US number disambiguation, and SimHash. All are
column->column (one Arrow round trip per batch, no per-row Python at the
Spark API level); the extraction kernel is an Arrow UDF, the rest are pandas
UDFs.
"""
from __future__ import annotations

from typing import List

import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.numbers import extract_numbers, parse_number
from ..kernels.segment import extract_turn
from ..kernels.textstats import detect_language, quality_score, simhash64

SPAN_TYPE = StructType([
    StructField("offset", IntegerType()),
    StructField("length", IntegerType()),
])

SECTION_TYPE = StructType([
    StructField("title", StringType()),
    StructField("page", IntegerType()),
    StructField("end_page", IntegerType()),
])

EXTRACTION_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("extracted_text", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("problems", ArrayType(StringType())),
    StructField("sections", ArrayType(SECTION_TYPE)),
    StructField("repaired_pages", ArrayType(IntegerType())),
    StructField("valid", BooleanType()),
])
_EXTRACTION_ARROW_TYPE = to_arrow_type(EXTRACTION_TYPE)


@arrow_udf(EXTRACTION_TYPE)
def extract_turn_udf(text: pa.Array) -> pa.Array:
    """The flagship extraction kernel, one Arrow batch at a time. The
    kernel's dicts convert straight to the struct type (span tuples become
    structs, keys outside the type are dropped). Null inputs (plain rows
    routed JVM-side, plans/pipeline.py) come back as null structs without
    running the kernel."""
    return pa.array(
        [None if t is None else extract_turn(t) for t in text.to_pylist()],
        type=_EXTRACTION_ARROW_TYPE,
    )


@pandas_udf(ArrayType(StringType()))
def extract_numbers_udf(text: pd.Series) -> pd.Series:
    """EU/US-disambiguating number extraction (X2)."""
    return text.map(lambda t: extract_numbers(t or ""))


@pandas_udf(DoubleType())
def parse_number_udf(text: pd.Series) -> pd.Series:
    """Single formatted-money parser (X3); None for unparseable."""
    return text.map(parse_number)


@pandas_udf(StringType())
def fix_bidi_udf(text: pd.Series) -> pd.Series:
    """X4: RTL visual reordering of cell text (mini-UBA kernel)."""
    from ..kernels.normalize import fix_bidi_text

    return text.map(lambda t: fix_bidi_text(t or ""))


CASCADE_TYPE = StructType([
    StructField("method", StringType()),
    StructField("n_rows", IntegerType()),
    StructField("n_cols", IntegerType()),
    StructField("last_cell", StringType()),
])


@pandas_udf(CASCADE_TYPE)
def table_cascade_udf(text: pd.Series) -> pd.DataFrame:
    """S5: lattice/stream flavor cascade summary per document."""
    from ..kernels.table_scan import extract_tables_cascade

    def f(t):
        r = extract_tables_cascade(t or "")
        rows = r["rows"]
        return {
            "method": r["method"],
            "n_rows": len(rows),
            "n_cols": len(rows[0]) if rows else 0,
            "last_cell": rows[-1][-1] if rows else "",
        }

    return pd.DataFrame([f(t) for t in text])


@pandas_udf(StringType())
def detect_language_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: detect_language(t or ""))


@pandas_udf(DoubleType())
def quality_score_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: quality_score(t or ""))


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: simhash64(t or ""))


@pandas_udf(StringType())
def repair_image_aware_udf(body: pd.Series) -> pd.Series:
    """The image-specific repair dialect (kernels/segment.py
    repair_page_image_aware): image-ref lines byte-exact, prose segments
    through the plain repair kernel, blank-line image separation."""
    from ..kernels.segment import repair_page_image_aware

    return body.map(lambda t: repair_page_image_aware(t or ""))


def _first_table_rows(md: str) -> List[List[str]]:
    from ..kernels.markdown_tables import parse_markdown_tables

    tables = parse_markdown_tables(md or "")
    return tables[0]["rows"] if tables else []


@pandas_udf(ArrayType(ArrayType(StringType())))
def parse_md_rows_udf(md: pd.Series) -> pd.Series:
    """X9: first markdown table's data rows (header/separator dropped)."""
    return md.map(_first_table_rows)
