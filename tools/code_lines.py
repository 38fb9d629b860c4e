"""Count code lines per Python file: lines that hold at least one token
other than a comment or a docstring (blank lines, comment-only lines and
docstring lines do not count). A multi-line non-docstring string counts
every line it spans.

Usage: python tools/code_lines.py FILE [FILE ...]

Prints one ``<count>  <file>`` line per file and a ``<total>  total``
line, so a change reports one reproducible number.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_spans(tree: ast.AST) -> list[tuple[tuple[int, int], tuple[int, int]]]:
    spans = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            d = body[0]
            spans.append(((d.lineno, d.col_offset), (d.end_lineno, d.end_col_offset)))
    return spans


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    spans = _docstring_spans(ast.parse(src))
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _NON_CODE:
                continue
            if tok.type == tokenize.STRING and any(
                lo <= tok.start and tok.end <= hi for lo, hi in spans
            ):
                continue
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
