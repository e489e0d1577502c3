"""Count the lines of Python files: the ``wc -l`` total and the code lines.

Usage: python tools/loc.py [--rev <git-rev>] <path> [<path> ...]

Prints ``<total> / <code>  <path>`` per file and, for more than one file,
a summary line. Code lines are the lines that are not blank, not a
comment on its own line (``#``-only) and not part of a module, class or
function docstring (found with ``ast``). With ``--rev`` each file is read
as it is at that git revision (``git show <rev>:<path>``) instead of from
the working tree; a path absent there counts as empty.
"""

from __future__ import annotations

import ast
import subprocess
import sys


def read(path: str, rev: str | None) -> str:
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    out = subprocess.run(
        ["git", "show", f"{rev}:{path}"], capture_output=True, text=True
    )
    return out.stdout if out.returncode == 0 else ""


def docstring_lines(tree: ast.AST) -> set[int]:
    """1-based line numbers covered by module, class or function docstrings."""
    lines: set[int] = set()
    nodes = [tree] + [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for node in nodes:
        body = getattr(node, "body", [])
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(text: str) -> tuple[int, int]:
    """(total lines as ``wc -l`` counts them, code lines)."""
    total = text.count("\n")
    docs = docstring_lines(ast.parse(text)) if text else set()
    code = sum(
        1
        for i, line in enumerate(text.splitlines(), start=1)
        if line.strip() and not line.strip().startswith("#") and i not in docs
    )
    return total, code


def main(argv: list[str]) -> int:
    rev = None
    if argv[:1] == ["--rev"]:
        if len(argv) < 2:
            print(__doc__, file=sys.stderr)
            return 2
        rev, argv = argv[1], argv[2:]
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    sums = [0, 0]
    for path in argv:
        total, code = count(read(path, rev))
        sums[0] += total
        sums[1] += code
        print(f"{total} / {code}  {path}")
    if len(argv) > 1:
        print(f"{sums[0]} / {sums[1]}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
