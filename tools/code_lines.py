"""Count code lines of Python files at a git revision and in the
working tree.

    python tools/code_lines.py [--rev REV] PATH...

A code line holds at least one token that is not a comment; blank
lines, comment-only lines and docstrings (the leading string of a
module, class or function body) do not count. Prints one row per
path (REV, working tree, difference) and a total row. A path missing
on one side counts 0 there. REV defaults to HEAD.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """Number of code lines in the Python source text ``source``."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docstrings.update(range(first.lineno, first.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def _at_rev(rev: str, path: str) -> str | None:
    """Text of ``path`` at ``rev``, or None when it does not exist."""
    top = subprocess.run(
        ["git", "rev-parse", "--show-toplevel"], capture_output=True,
        text=True, check=True,
    ).stdout.strip()
    rel = os.path.relpath(os.path.abspath(path), top)
    out = subprocess.run(
        ["git", "-C", top, "show", f"{rev}:{rel}"], capture_output=True,
        text=True,
    )
    return out.stdout if out.returncode == 0 else None


def _in_tree(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return f.read()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    rows = []
    for p in args.paths:
        old, new = _at_rev(args.rev, p), _in_tree(p)
        rows.append((p, code_lines(old) if old is not None else 0,
                     code_lines(new) if new is not None else 0))
    if len(rows) > 1:
        rows.append(("total", sum(r[1] for r in rows),
                     sum(r[2] for r in rows)))
    width = max(len(r[0]) for r in rows)
    print(f"{'path':<{width}}  {args.rev:>8}  {'tree':>8}  {'diff':>7}")
    for p, old, new in rows:
        print(f"{p:<{width}}  {old:>8}  {new:>8}  {new - old:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
