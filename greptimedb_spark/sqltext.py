"""SQL text scanning for the dialect: one lexer and the few operations the
front door builds on it.

Quoting rules (DataFusion's, as the reference parses them):

- ``'…'`` is a string literal. ``''`` inside it is one quote; a backslash is
  an ordinary character (literals are raw).
- ``"…"`` is an identifier. ``""`` inside it is one quote.
- `` `…` `` is an identifier, with no escape.
- ``--`` to the end of the line and ``/* … */`` are comments. They are
  recognised only outside quotes, and quotes are not recognised inside them.

Parentheses, brackets and commas count only outside quoted text and
comments. An unterminated quote or block comment runs to the end of the text.
"""
from __future__ import annotations

import re

# quoted text and comments: every operation below skips them whole
_OPAQUE = (r"'[^']*(?:''[^']*)*'?"
           r'|"[^"]*(?:""[^"]*)*"?'
           r"|`[^`]*`?"
           r"|--[^\n]*"
           r"|/\*.*?(?:\*/|\Z)")
_OPAQUE_RE = re.compile(_OPAQUE, re.S)
_TOKEN_RE = re.compile(_OPAQUE + r"|[()\[\],]", re.S)


def strip_comments(text: str) -> str:
    """``text`` without its comments; a line comment's newline stays."""
    return _OPAQUE_RE.sub(
        lambda m: "" if m.group().startswith(("--", "/*")) else m.group(),
        text)


def map_outside_strings(text: str, fn) -> str:
    """Apply ``fn`` to the stretches of ``text`` outside single-quoted string
    literals; the literals pass through untouched."""
    out, pos = [], 0
    for m in _OPAQUE_RE.finditer(text):
        if m.group().startswith("'"):
            out.append(fn(text[pos:m.start()]))
            out.append(m.group())
            pos = m.end()
    out.append(fn(text[pos:]))
    return "".join(out)


def close_paren(text: str, i: int = 0) -> int | None:
    """Index of the first ``)`` at or after ``i`` that closes a ``(`` opened
    before ``i``: for ``i`` just past a ``(``, its match. None when the text
    ends first."""
    depth = 0
    for m in _TOKEN_RE.finditer(text, i):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            if not depth:
                return m.start()
            depth -= 1
    return None


def open_paren(text: str, i: int) -> int | None:
    """Index of the last ``(`` before ``i`` still open at ``i``: for ``i`` at
    a ``)``, its match. None when there is none."""
    stack = []
    for m in _TOKEN_RE.finditer(text, 0, i):
        c = m.group()
        if c == "(":
            stack.append(m.start())
        elif c == ")" and stack:
            stack.pop()
    return stack[-1] if stack else None


def split_top(text: str) -> list[str]:
    """``text`` split at its commas outside quoted text, (…) and […]. The
    pieces keep their whitespace, so ``",".join(split_top(t)) == t``; blank
    text gives []."""
    if not text.strip():
        return []
    out, depth, start = [], 0, 0
    for m in _TOKEN_RE.finditer(text):
        c = m.group()
        if c in ("(", "["):
            depth += 1
        elif c in (")", "]"):
            depth -= 1
        elif c == "," and not depth:
            out.append(text[start:m.start()])
            start = m.end()
    out.append(text[start:])
    return out


def rewrite_calls(text: str, name: str, fn) -> str:
    """Replace each call ``name(args)`` outside quoted text by
    ``fn(split_top(args))``, after the calls inside ``args`` have been
    rewritten the same way. ``name`` is a regular expression, matched
    case-insensitively from a word boundary. When ``fn`` returns None, or
    the call's parentheses do not close, the call stays as written."""
    if not re.search(rf"\b(?:{name})\s*\(", text, re.I):
        return text
    head = re.compile(rf"{_OPAQUE}|(?P<call>\b(?:{name})\s*\()",
                      re.S | re.I)
    out, pos, at = [], 0, 0
    while m := head.search(text, at):
        at = m.end()
        end = close_paren(text, at) if m.group("call") else None
        if end is None:
            continue
        inner = rewrite_calls(text[at:end], name, fn)
        new = fn(split_top(inner))
        out += [text[pos:m.start()],
                m.group() + inner + ")" if new is None else new]
        pos = at = end + 1
    out.append(text[pos:])
    return "".join(out)
