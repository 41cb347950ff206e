"""Count lines of code in a Python tree: lines holding at least one token
that is not a comment, with docstrings and blank lines left out.

Usage: python tools/code_lines.py [dir ...]   (default: modal_vector_db_spark)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


def code_lines(source: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                getattr(body[0], "value", None), ast.Constant
            ) and isinstance(body[0].value.value, str):
                doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(dirs: list[str]) -> None:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith(".py"):
                    with open(os.path.join(base, f)) as fh:
                        total += code_lines(fh.read())
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:] or ["modal_vector_db_spark"])
