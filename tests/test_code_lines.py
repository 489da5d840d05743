"""tools/code_lines.py: a line is code when it holds a token outside a
comment or docstring."""

from __future__ import annotations

from tools.code_lines import count

SNIPPET = '''"""Module docstring,
two lines."""

import os  # a comment


def f(x):
    """Function docstring."""
    # comment-only line
    sql = """
      SELECT 1
    """
    return x


class C:
    """Class docstring."""

    y = 1
'''


def test_code_lines_skip_comments_docstrings_and_blanks():
    # code: import, def, the 3 rows the sql string spans, return,
    # class, y = 1
    assert count(SNIPPET) == (8, 19)
