"""Line counts for the engine package, printed as one JSON line.

    python3 tools/engine_lines.py [--ast-same REV]

Every ``.py`` file under ``european_emissions_data_warehouse_spark/`` is
split into docstring lines (the lines a module, class or function
docstring spans, from ``ast``), comment lines (lines holding only a
comment, from ``tokenize``), code lines (every other non-blank line) and
blank lines; ``lines`` is their sum.  ``history_notes`` counts the lines of
any package file that match "code-review rN", "ADVICE rN" or "VERDICT rN".

``--ast-same REV`` also lists, under ``ast_differs``, every module whose
``ast.dump`` with docstrings stripped differs from the same path at git
revision ``REV`` (or exists on one side only): an edit that touches only
docstrings and comments leaves the list empty."""
from __future__ import annotations

import argparse
import ast
import io
import json
import re
import subprocess
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "european_emissions_data_warehouse_spark"
HISTORY_NOTE = re.compile(r"(code-review|ADVICE|VERDICT) r[0-9]+")
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring(node: ast.AST) -> ast.Expr | None:
    """``node``'s docstring statement, if it is a module, class or function
    that has one."""
    if isinstance(node, _DOC_OWNERS) and node.body:
        first = node.body[0]
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
            if isinstance(first.value.value, str):
                return first
    return None


def count_lines(source: str) -> dict[str, int]:
    """code / docstring / comment / blank line counts of one module."""
    doc = set()
    for node in ast.walk(ast.parse(source)):
        if (ds := _docstring(node)) is not None:
            doc.update(range(ds.lineno, ds.end_lineno + 1))
    comment, code = set(), set()
    skip = (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER)
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comment.add(tok.start[0])
        elif tok.type not in skip:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= doc
    comment -= doc | code
    n = len(source.splitlines())
    return {
        "code": len(code),
        "docstring": len(doc),
        "comment": len(comment),
        "blank": n - len(code | doc | comment),
    }


def stripped_dump(source: str) -> str:
    """``ast.dump`` of the module with every docstring removed."""
    tree = ast.parse(source)
    for node in ast.walk(tree):
        if _docstring(node) is not None:
            node.body = node.body[1:] or [ast.Pass()]
    return ast.dump(tree)


def _source_at(rev: str, rel: str) -> str | None:
    out = subprocess.run(
        ["git", "-C", str(REPO), "show", f"{rev}:{rel}"],
        capture_output=True,
        text=True,
    )
    return out.stdout if out.returncode == 0 else None


def _modules_at(rev: str) -> set[str]:
    out = subprocess.run(
        ["git", "-C", str(REPO), "ls-tree", "-r", "--name-only", rev, PACKAGE],
        capture_output=True,
        text=True,
        check=True,
    )
    return {p for p in out.stdout.splitlines() if p.endswith(".py")}


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--ast-same", metavar="REV", help="git revision to compare ASTs with")
    args = parser.parse_args()

    root = REPO / PACKAGE
    totals = {"code": 0, "docstring": 0, "comment": 0, "blank": 0}
    notes = 0
    modules = {}
    for path in sorted(root.rglob("*")):
        if not path.is_file() or "__pycache__" in path.parts:
            continue
        text = path.read_text(encoding="utf-8", errors="replace")
        notes += sum(1 for ln in text.splitlines() if HISTORY_NOTE.search(ln))
        if path.suffix == ".py":
            modules[path.relative_to(REPO).as_posix()] = text
            for key, n in count_lines(text).items():
                totals[key] += n

    out = {
        "lines": sum(totals.values()),
        "code": totals["code"],
        "docstring": totals["docstring"],
        "comment": totals["comment"],
        "history_notes": notes,
    }
    if args.ast_same:
        differs = []
        for rel in sorted(set(modules) | _modules_at(args.ast_same)):
            old, new = _source_at(args.ast_same, rel), modules.get(rel)
            if old is None or new is None or stripped_dump(old) != stripped_dump(new):
                differs.append(rel)
        out["ast_differs"] = differs
    print(json.dumps(out))


if __name__ == "__main__":
    main()
