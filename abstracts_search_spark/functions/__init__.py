from .tokenize import TOKEN_PATTERN, get_tokenizer, tokens_expr
from .uninvert import invert_expr, uninvert_expr

__all__ = [
    "TOKEN_PATTERN",
    "get_tokenizer",
    "tokens_expr",
    "uninvert_expr",
    "invert_expr",
]
