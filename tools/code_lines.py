"""Count the code lines of a Python file and of named functions/classes.

Usage: python tools/code_lines.py FILE [NAME ...]
  Prints ``<count>\tFILE`` for the whole file, then one
  ``<count>\t<qualified name>`` line per definition matching each NAME.
  A NAME is a function or class name (``evaluate``) or a dotted
  qualified name (``KibanaPlan.evaluate``); every match is printed.

A code line is a physical line carrying at least one token other than a
comment, a newline or an indentation change, outside the docstrings of
the module, its classes and its functions.  Blank lines, comment-only
lines and docstring lines do not count; a line of code with a trailing
comment does.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(source: str) -> set[int]:
    """The 1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _SCOPES) and ast.get_docstring(node, clean=False):
            doc = node.body[0]
            lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def definitions(source: str):
    """``(qualified name, first line, last line)`` of every function and
    class, outermost first."""
    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, _SCOPES[1:]):
                qual = f"{prefix}{child.name}"
                first = min([child.lineno] + [d.lineno for d in child.decorator_list])
                yield qual, first, child.end_lineno
                yield from walk(child, qual + ".")
            else:
                yield from walk(child, prefix)

    yield from walk(ast.parse(source), "")


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    path, names = argv[0], argv[1:]
    with open(path, encoding="utf-8") as f:
        source = f.read()
    lines = code_lines(source)
    print(f"{len(lines)}\t{path}")
    missing = []
    for name in names:
        hits = [
            (qual, first, last) for qual, first, last in definitions(source)
            if qual == name or qual.rsplit(".", 1)[-1] == name
        ]
        if not hits:
            missing.append(name)
        for qual, first, last in hits:
            n = sum(1 for ln in lines if first <= ln <= last)
            print(f"{n}\t{qual}")
    if missing:
        print(f"not found: {', '.join(missing)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
