#!/usr/bin/env python
"""Count Python code lines, excluding comments, docstrings and blanks.

Usage: python scripts/count_code_lines.py PATH [PATH ...]

A line counts when a token other than a comment, a newline, an indent
or a bare string statement (a docstring, or any string literal standing
alone as a statement) touches it. Multi-line tokens count every line
they span. Directories are walked for ``*.py`` files. Prints one line
per path and a total.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            if stmt and not all(t.type == tokenize.STRING for t in stmt):
                for t in stmt:
                    lines.update(range(t.start[0], t.end[0] + 1))
            stmt = []
        elif tok.type not in _SKIP:
            stmt.append(tok)
    return len(lines)


def _files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(root, n)


def main(paths: list[str]) -> int:
    total = 0
    for p in paths:
        n = sum(code_lines(open(f).read()) for f in _files(p))
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    if not sys.argv[1:]:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1:]))
