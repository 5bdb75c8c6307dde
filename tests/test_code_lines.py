"""tools/code_lines.py: code lines without blanks, comments or
docstrings, for a file and for named definitions."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "code_lines.py",
)
_spec = importlib.util.spec_from_file_location("code_lines", _TOOL)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SNIPPET = '''"""Module docstring
spanning two lines."""

import os  # a trailing comment does not hide code


def f(x):
    """Function docstring."""
    # a comment-only line
    y = (x +
         1)

    return y


class C:
    """Class docstring."""

    @staticmethod
    def g():
        return "a string, not a docstring"
'''


def test_counts_a_fixed_snippet(tmp_path, capsys):
    path = tmp_path / "snippet.py"
    path.write_text(_SNIPPET)
    assert sorted(code_lines.code_lines(_SNIPPET)) == [
        4, 7, 10, 11, 13, 16, 19, 20, 21,
    ]
    assert code_lines.main([str(path), "f", "C", "C.g"]) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"9\t{path}", "4\tf", "4\tC", "3\tC.g",
    ]
    # a name that matches nothing is an error, after the counts
    assert code_lines.main([str(path), "nope"]) == 1
    assert capsys.readouterr().out.splitlines() == [f"9\t{path}"]
