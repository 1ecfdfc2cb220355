"""Line counts of the point-in-time (PIT) path.

Prints, for each of the five files on the production path and for their
total, all lines and code lines. A code line holds at least one token
that is not a comment, a blank, or part of a module, class or function
docstring.

Usage: python scripts/pit_loc.py [repo_dir]
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

PIT_PATH = (
    "jobs/run_pipeline.py",
    "dane_visual_feature_extraction_worker_spark/checkpoint.py",
    "dane_visual_feature_extraction_worker_spark/plans/pipeline.py",
    "dane_visual_feature_extraction_worker_spark/kernel.py",
    "dane_visual_feature_extraction_worker_spark/operators/asof.py",
)
_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    """Line numbers of every module, class and function docstring."""
    out = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def count(source: str) -> tuple[int, int]:
    """(lines, code lines) of Python ``source``."""
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return len(source.splitlines()), len(code)


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    repo = argv[0] if argv else os.path.dirname(here)
    total = [0, 0]
    print(f"{'lines':>6} {'code':>6}  file")
    for rel in PIT_PATH:
        with open(os.path.join(repo, rel), encoding="utf-8") as f:
            lines, code = count(f.read())
        total[0] += lines
        total[1] += code
        print(f"{lines:>6} {code:>6}  {rel}")
    print(f"{total[0]:>6} {total[1]:>6}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
