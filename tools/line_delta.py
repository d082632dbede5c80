#!/usr/bin/env python
"""Net line delta of the package between two git revisions.

Usage::

    python tools/line_delta.py BASE [HEAD] [--path DIR]

Reads every ``*.py`` file under ``--path`` (default: the engine
package) at both revisions through ``git show`` (the working tree is
never read, so commit or ``git stash create`` first) and prints, per
module that changed and overall, two counts at each revision and their
difference:

* ``total`` — every line of the file;
* ``code`` — lines that carry code: blank lines, comment-only lines and
  docstrings (the leading string of a module, class or function) are
  dropped.

Standard library only; run from anywhere inside the repository.
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import tokenize

PACKAGE = "rds_to_snowflake_etl_a_lakehouse_pipeline_spark"
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout


def _sources(rev: str, path: str) -> dict[str, str]:
    names = _git("ls-tree", "-r", "--name-only", rev, "--", path).split()
    return {n: _git("show", f"{rev}:{n}") for n in names if n.endswith(".py")}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    starts = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                starts.add((first.value.lineno, first.value.col_offset))
    return starts


def count(src: str) -> tuple[int, int]:
    """(total lines, code-only lines) of one Python source."""
    docs = _docstring_starts(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING and tok.start in docs:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head", nargs="?", default="HEAD")
    ap.add_argument("--path", default=PACKAGE)
    args = ap.parse_args(argv)

    before = {n: count(s) for n, s in _sources(args.base, args.path).items()}
    after = {n: count(s) for n, s in _sources(args.head, args.path).items()}
    rows = []
    for name in sorted(before.keys() | after.keys()):
        b, a = before.get(name, (0, 0)), after.get(name, (0, 0))
        if a != b:
            rows.append((name, b, a))
    tb = tuple(map(sum, zip(*before.values()))) if before else (0, 0)
    ta = tuple(map(sum, zip(*after.values()))) if after else (0, 0)
    rows.append(("TOTAL", tb, ta))

    width = max(len(r[0]) for r in rows)
    print(f"{'module':<{width}}  {'total':>19}  {'code':>19}")
    for name, b, a in rows:
        print(
            f"{name:<{width}}  {b[0]:>6} {a[0]:>6} {a[0] - b[0]:>+5}"
            f"  {b[1]:>6} {a[1]:>6} {a[1] - b[1]:>+5}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
