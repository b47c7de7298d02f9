"""Identifier quoting for SQL text built from caller-supplied names."""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """Backtick-quote one SQL identifier part, escaping inner backticks."""
    return "`" + name.replace("`", "``") + "`"
