"""Every top-level definition in the package is reached from outside its
own body: by the package, the driver entry, the bench scripts, scripts/ or
perfbench/. Tests do not count as a reach. No Spark needed.

A reference is a NAME token, or an identifier inside a string literal that
is not a docstring (perfbench/tracing.WRAPPED names functions by string).
A reference that sits inside the body of an unreached definition does not
count, so the scan repeats until nothing more drops out. ``fixtures.py``
holds test-data generators and is the one module whose definitions are not
checked."""

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "filtlong_spark"
ALLOWLISTED = {PACKAGE / "fixtures.py"}
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _search_files():
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / n for n in ("__spark_entry__.py", "bench.py",
                                 "bench_extra.py") if (ROOT / n).exists()]
    for d in ("scripts", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _docstring_lines(tree):
    """Start lines of every docstring expression in ``tree``."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef,
                             ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                out.add(body[0].lineno)
    return out


def _references(src, tree):
    """(name, line) for each NAME token and each identifier in a string
    literal that is not a docstring."""
    docs = _docstring_lines(tree)
    refs = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            refs.append((tok.string, tok.start[0]))
        elif tok.type == tokenize.STRING and tok.start[0] not in docs:
            refs += [(m, tok.start[0]) for m in _IDENT.findall(tok.string)]
    return refs


def _definitions(tree):
    """(name, first line, last line) of each top-level def, class and
    simple-name assignment; dunder names are skipped."""
    out = []
    for node in tree.body:
        first = min([node.lineno] + [d.lineno for d in
                                     getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
        else:
            continue
        out += [(n, first, node.end_lineno) for n in names
                if not (n.startswith("__") and n.endswith("__"))]
    return out


def unreached():
    refs = {}      # name -> [(path, line)]
    defs = []      # (path, name, first, last)
    for path in _search_files():
        src = path.read_text()
        tree = ast.parse(src)
        for name, line in _references(src, tree):
            refs.setdefault(name, []).append((path, line))
        if path.is_relative_to(PACKAGE) and path not in ALLOWLISTED:
            defs += [(path, *d) for d in _definitions(tree)]

    dead = set()
    while True:
        def live(path, line):
            return not any(p == path and f <= line <= la
                           for p, _, f, la in dead)
        newly = {d for d in defs if d not in dead and not any(
            not (p == d[0] and d[2] <= ln <= d[3]) and live(p, ln)
            for p, ln in refs.get(d[1], ()))}
        if not newly:
            return sorted(f"{p.relative_to(ROOT)}:{f} {n}"
                          for p, n, f, _ in dead)
        dead |= newly


def test_every_package_definition_is_reached():
    dead = unreached()
    assert not dead, "reached by nothing outside tests:\n" + "\n".join(dead)
