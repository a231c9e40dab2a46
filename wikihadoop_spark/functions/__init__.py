"""Scalar/UDF function library: wikitext tokenizer, token-level diff,
text statistics, python2-repr compatibility encoding."""

from .tokenize import tokenize_wikitext
from .diffs import token_diff, apply_diff

__all__ = ["tokenize_wikitext", "token_diff", "apply_diff"]
