#!/usr/bin/env python
"""Count code lines under a directory: lines holding a Python token
other than comments, blank lines and docstrings (a string literal that
is a statement on its own). Moving code between files leaves the count
unchanged, so it measures what a change adds or removes.

    python3 scripts/code_lines.py dbt_jaffleshop_spark
"""

from __future__ import annotations

import io
import pathlib
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_STATEMENT_START = {
    tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.NL, tokenize.COMMENT)
    ]
    lines: set[int] = set()
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            continue
        docstring = (
            t.type == tokenize.STRING
            and (i == 0 or toks[i - 1].type in _STATEMENT_START)
            and toks[i + 1].type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        )
        if not docstring:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1])
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))
