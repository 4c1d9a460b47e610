"""Count the package's code lines, and their change against a git revision.

A code line is a line that holds a token other than a comment, and is not
part of a docstring (a statement that is a bare string). Blank lines,
comment lines and docstring lines are left out. The generated tables
``lucene_spark/functions/_*.py`` (written by ``tools/gen_*.py``) are
skipped.

Usage:
  python tools/loc.py                 # code lines per package file
  python tools/loc.py --against REV   # per-file and total delta from REV
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import tokenize
from pathlib import Path, PurePosixPath

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "lucene_spark"
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def counted(path: str) -> bool:
    """Whether ``path`` (relative to the repo) is package code, not a
    generated table."""
    p = PurePosixPath(path)
    generated = (p.parent.name == "functions" and p.name.startswith("_")
                 and not p.name.startswith("__"))
    return p.suffix == ".py" and p.parts[0] == PACKAGE and not generated


def code_lines(source: str) -> int:
    """The code lines of one Python source."""
    doc = set()
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def current() -> dict[str, int]:
    """Code lines per package file of the working tree."""
    paths = sorted(p.relative_to(ROOT).as_posix()
                   for p in (ROOT / PACKAGE).rglob("*.py"))
    return {p: code_lines((ROOT / p).read_text(encoding="utf-8"))
            for p in paths if counted(p)}


def at(rev: str) -> dict[str, int]:
    """Code lines per package file at the git revision ``rev``."""
    paths = _git("ls-tree", "-r", "--name-only", rev, "--", PACKAGE).split()
    return {p: code_lines(_git("show", f"{rev}:{p}"))
            for p in paths if counted(p)}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--against", metavar="REV",
                    help="print each changed file's delta from REV")
    args = ap.parse_args(argv)
    new = current()
    if args.against is None:
        for p, n in new.items():
            print(f"{n:7d}  {p}")
        print(f"{sum(new.values()):7d}  total")
        return
    old = at(args.against)
    for p in sorted(old.keys() | new.keys()):
        a, b = old.get(p, 0), new.get(p, 0)
        if a != b:
            print(f"{a:7d} {b:7d} {b - a:+7d}  {p}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{a:7d} {b:7d} {b - a:+7d}  total")


if __name__ == "__main__":
    main()
