"""Count code lines and raw lines per Python file.

    python tools/code_lines.py spring_and_kafka_spark/llm/dedup.py ...

A line is a code line when it holds a token outside a comment or a
docstring: blank lines, comment-only lines and docstring lines do not
count, while every line a multi-line string expression spans (an
embedded SQL text, say) does. Docstrings are the string-constant first
statements of modules, classes and functions, found with ``ast``; the
tokens come from ``tokenize``. Prints one ``code raw path`` line per file
and a total line when given more than one file.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(code lines, raw lines) of one Python source text."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        rows = range(tok.start[0], tok.end[0] + 1)
        code.update(r for r in rows if r not in doc)
    return len(code), len(source.splitlines())


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit("usage: code_lines.py <file.py>...")
    total_code = total_raw = 0
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            code, raw = count(fh.read())
        total_code += code
        total_raw += raw
        print(f"{code:6d} {raw:6d} {path}")
    if len(paths) > 1:
        print(f"{total_code:6d} {total_raw:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
