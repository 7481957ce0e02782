"""tools/code_lines.py: a code line holds a token outside comments and
docstrings."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tools.code_lines import code_lines  # noqa: E402

SAMPLE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


def f(x):
    """One-line docstring."""
    # a comment-only line
    total = (
        x
        + 1
    )
    s = """a string literal
    that is not a docstring"""

    return total, s
'''


def test_counts_code_lines_of_a_sample():
    # import, def, the four lines of the parenthesized expression, both
    # lines of the non-docstring literal, return
    assert code_lines(SAMPLE) == 9


def test_empty_and_docstring_only_sources_have_no_code():
    assert code_lines("") == 0
    assert code_lines('"""Only a docstring."""\n# and a comment\n') == 0
