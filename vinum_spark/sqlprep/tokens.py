"""Minimal SQL tokenizer — just enough structure for the pre-pass rewrites
and the select-list naming contract. Not a validator: anything it doesn't
understand passes through untouched and Catalyst's parser is the authority.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List

# Order matters: longest operators first.
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<string>'(?:[^']|'')*')
  | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
  | (?P<number>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?
               (?:(?:BD|bd|[DdLlSsYyFf])(?![A-Za-z_0-9]))?)  # typed: 1.0D, 2L
  | (?P<ident>[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)*)
  | (?P<op>==|<=|>=|<>|!=|->|\|\||::|[=<>+\-*/%^#~&|])
  | (?P<punct>[(),.;\[\]])
    """,
    re.VERBOSE | re.DOTALL,
)

KIND_WS = "ws"
KIND_STRING = "string"
KIND_NUMBER = "number"
KIND_IDENT = "ident"
KIND_QIDENT = "qident"
KIND_OP = "op"
KIND_PUNCT = "punct"


@dataclass
class Token:
    kind: str
    text: str

    def upper(self) -> str:
        return self.text.upper()

    def is_kw(self, *kws: str) -> bool:
        return self.kind == KIND_IDENT and self.text.upper() in kws


def tokenize(sql: str, keep_ws: bool = False) -> List[Token]:
    """Tokenize, dropping whitespace/comments unless ``keep_ws``."""
    out: List[Token] = []
    pos = 0
    n = len(sql)
    while pos < n:
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            # Unknown char: pass through as punct so rewrites stay no-ops.
            out.append(Token(KIND_PUNCT, sql[pos]))
            pos += 1
            continue
        kind = m.lastgroup or KIND_PUNCT
        text = m.group(0)
        pos = m.end()
        if kind in ("ws", "comment") and not keep_ws:
            continue
        out.append(Token(KIND_WS if kind == "comment" else kind, text))
    return out


def render(tokens: List[Token]) -> str:
    """Join tokens back into SQL with single spaces where needed."""
    parts: List[str] = []
    prev: Token | None = None
    for t in tokens:
        if prev is not None and _needs_space(prev, t):
            parts.append(" ")
        parts.append(t.text)
        prev = t
    return "".join(parts)


def _needs_space(a: Token, b: Token) -> bool:
    # Idents/numbers/strings/keywords must not merge; parens/commas bind tight.
    tight_after = a.text in "(.[" or a.kind == KIND_OP and a.text == "::"
    tight_before = b.text in "(),.;[]" or b.text == "::"
    if a.kind in (KIND_IDENT, KIND_NUMBER, KIND_STRING, KIND_QIDENT) and b.text == "(":
        return False
    if tight_after or tight_before:
        return False
    return True


def match_paren(tokens: List[Token], open_idx: int) -> int:
    """Index of the ``)`` matching ``tokens[open_idx] == '('``."""
    depth = 0
    for i in range(open_idx, len(tokens)):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in SQL")


def split_top_level(tokens: List[Token], sep: str = ",") -> List[List[Token]]:
    """Split a token list on top-level occurrences of ``sep``."""
    out: List[List[Token]] = []
    cur: List[Token] = []
    depth = 0
    for t in tokens:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if depth == 0 and t.text == sep:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    out.append(cur)
    return out
