from .tokenizer import tokenize_text, TOKEN_PATTERN
from .html import extract_text, extract_text_udf

__all__ = [
    "tokenize_text",
    "TOKEN_PATTERN",
    "extract_text",
    "extract_text_udf",
]
