"""Oracle-SQL generators for md5-arithmetic stub paths and hex byte reads.

The deterministic stand-ins for model/codec stages (stub detector,
stub embedding backbone) derive every output value from md5 digests of
key strings. DuckDB's `md5()` returns the same lowercase hex, so those
values are exactly re-derivable in SQL via hex-char arithmetic — these
helpers build the (verbose) expressions once, shared by every oracle
that needs them. The media oracles read file bytes the same way, from
`lower(hex(content))` (`hex_u8`).
"""

from __future__ import annotations


def hexval(expr: str, pos: int) -> str:
    """SQL for the integer value of hex char `pos` (1-based) of `expr`."""
    return f"(strpos('0123456789abcdef', substr({expr}, {pos}, 1)) - 1)"


def hex_int(expr: str, start: int, n_chars: int) -> str:
    """SQL for the big-endian integer of `n_chars` hex chars of `expr`
    starting at 1-based `start` — matches
    `int(hexdigest[start-1:start-1+n_chars], 16)` /
    `int.from_bytes(digest[:n_chars//2], "big")`."""
    out = hexval(expr, start)
    for i in range(start + 1, start + n_chars):
        out = f"({out} * 16 + {hexval(expr, i)})"
    return out


def byte_val(expr: str, byte_idx: int) -> str:
    """SQL for digest byte `byte_idx` (0-based) of hex string `expr`."""
    return hex_int(expr, 2 * byte_idx + 1, 2)


def hex_u8(off: str, col: str = "hx") -> str:
    """SQL for the unsigned byte at 0-based byte offset `off` (a SQL
    expression) of the lowercase hex string `col` — the media oracles'
    byte reader over `lower(hex(content))`."""
    return (
        f"((strpos('0123456789abcdef', substr({col}, 2*({off}) + 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({col}, 2*({off}) + 2, 1)) - 1))"
    )
