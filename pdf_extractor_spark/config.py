"""Engine constants mirroring the reference's configured behavior.

Values derive from /root/reference/src/core/constants.py:9-20 and
/root/reference/src/core/config.py:36-113 (public repo content); every constant
here is cited at its point of use in the kernels.
"""

# Markdown assembly (reference: src/core/constants.py:9-10)
MARKDOWN_SECTION_SEPARATOR = "\n\n---\n\n"
MARKDOWN_PAGE_HEADER_TEMPLATE = "# Page {page_number}\n\n"
EMPTY_CONTENT_MESSAGE = "# No content extracted\n\n"

# Chunking (reference: src/core/constants.py:19-20, src/core/config.py:36)
MAX_PAGES_PER_CHUNK = 15
MAX_OUTLINES = 4  # reference: src/services/pdf_processor.py:56-59

# Input guardrails (reference: src/core/config.py:40-42)
MAX_BASE64_LENGTH = 40_000_000
MAX_PDF_PAGES = 600

# Validation (reference: src/core/config.py:89-92)
VALIDATION_SAMPLE_RATE = 5
VALIDATION_SIMILARITY_THRESHOLD = 0.95
VALIDATION_SIMILARITY_METHOD = "number_frequency"  # or "levenshtein"

# Validation cost model (reference: validation_orchestrator.py:51-53)
VALIDATION_COST_PER_1K_TOKENS = 0.01
VALIDATION_TOKENS_PER_PAGE = 500

# Table merge (reference: src/core/config.py:54-55)
BALANCE_TOLERANCE = 0.01
USE_NUMERICAL_VALIDATION = True

# Default-enabled problem detectors, 8 of 14
# (reference: src/core/config.py:100 VALIDATION_PROBLEMS_ENABLED — its
# default list is the first 7; markdown_images is enabled here by default,
# a deliberate deviation so the reference's image-specific validation
# branch (validation_orchestrator.py:378-387, gated behind the same
# enabled-set config) is routed out of the box: flagged pages carrying
# image refs take the image-aware repair dialect, kernels/segment.py)
DEFAULT_ENABLED_PROBLEMS = [
    "empty_tables",
    "low_content_density",
    "missing_numbers",
    "inconsistent_columns",
    "garbled_text",
    "missing_keywords",
    "repetitive_numbers",
    "markdown_images",
]

ALL_PROBLEMS = [
    "empty_tables",
    "low_content_density",
    "missing_numbers",
    "inconsistent_columns",
    "repeated_characters",
    "garbled_text",
    "header_only_tables",
    "very_short_pages",
    "missing_keywords",
    "malformed_structure",
    "duplicate_content",
    "unknown_characters",
    "repetitive_numbers",
    "markdown_images",
]

# Query -> workflow routing table; first substring match wins, else default
# (reference: src/core/config.py:60-73, src/workflows/workflow_router.py:15-46)
QUERY_WORKFLOW_MAPPING = {
    "01_Fin_Reports": "mistral",
    "02_Trial_Balance": "azure_document_intelligence",
    "03_Balances": "azure_document_intelligence",
    "04_Bank_Statements": "text_extraction",
    "05_Esna": "azure_document_intelligence",
    "ocr with images": "ocr_with_images",
    "gemini-wf": "gemini-wf",
}
DEFAULT_WORKFLOW = "mistral"
