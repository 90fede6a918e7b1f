"""Package surface: what the four jobs, the API and the oracles reach.

The import closure of the entry modules (an ``ast`` walk over every
import statement, function-local ones included) must stay inside an
explicit allowlist, so a module only a deleted branch used cannot creep
back onto the job paths. The job CLI must offer exactly the job
subcommands, and every public function of the query layer must have a
caller outside the tests. No Spark session is started here.
"""

from __future__ import annotations

import ast
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "ocr_search_spark"
ROOTS = ["jobs", "__main__", "api", "server", "golden", "corpus", "deploy"]

# dotted names relative to the package; "" is the package itself
ALLOWED = {
    "", "__main__", "api", "corpus", "deploy", "golden", "jobs",
    "pipeline", "schemas", "server", "session", "storage", "sync", "textproc",
    "operators", "operators.boolquery", "operators.convert", "operators.extract",
    "operators.maintenance", "operators.search", "operators.tokenize",
    "streaming", "streaming.index_maintain",
    "training", "training.docxmini", "training.ocrglyph", "training.pdfmini",
    "training.png", "training.pptxmini",
}


def _source(name: str) -> Path | None:
    base = PKG.joinpath(*name.split(".")) if name else PKG
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imports(name: str) -> set[str]:
    """Package modules ``name`` imports, with their parent packages."""
    path = _source(name)
    here = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name.split(".")[1:] for a in node.names
                       if a.name.split(".")[0] == "ocr_search_spark"]
        elif isinstance(node, ast.ImportFrom):
            mod = (node.module or "").split(".") if node.module else []
            if node.level:
                base = here[: len(here) - node.level + 1] + mod
            elif mod[0] == "ocr_search_spark":
                base = mod[1:]
            else:
                continue
            # "from pkg import name" may name a submodule
            targets = [base] + [base + [a.name] for a in node.names]
        else:
            continue
        for parts in targets:
            for i in range(len(parts) + 1):
                dotted = ".".join(parts[:i])
                if _source(dotted):
                    found.add(dotted)
    return found


def _closure() -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imports(name) - seen)
    return seen


def test_entry_point_closure_stays_in_allowlist():
    reached = _closure()
    assert reached - ALLOWED == set(), "modules reached beyond the allowlist"
    # every allowlisted module is still reached: a stale entry would let
    # a deleted path's module back in unnoticed
    assert ALLOWED - reached == set(), "allowlisted modules no root reaches"


def test_cli_offers_exactly_the_jobs():
    res = subprocess.run(
        [sys.executable, "-m", "ocr_search_spark", "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    choices = re.search(r"\{([a-z,-]+)\}", res.stdout).group(1)
    assert sorted(choices.split(",")) == ["extract", "search", "serve", "sync"]


# the query layer: what /pages and ``jobs.py search`` run
QUERY_LAYER = ["api.py", "server.py", "operators/search.py"]
# kept without a caller: whether phrases get a positional index or go
# is ROADMAP item 1's decision
UNCALLED_OK = {"phrase_search"}


def _referenced_names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name ``tree`` loads, reads as an attribute or imports,
    outside the subtree ``skip``."""
    names: set[str] = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        todo.extend(ast.iter_child_nodes(node))
    return names


def test_query_layer_has_no_test_only_functions():
    callers = sorted(PKG.rglob("*.py")) + sorted((REPO / "tools").glob("*.py")) \
        + sorted((REPO / "perfbench").glob("*.py"))
    trees = {path: ast.parse(path.read_text()) for path in callers}
    uncalled = []
    for rel in QUERY_LAYER:
        path = PKG / rel
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.name in UNCALLED_OK:
                continue
            if not any(
                node.name in _referenced_names(tree, node if p == path else None)
                for p, tree in trees.items()
            ):
                uncalled.append(f"{rel}:{node.name}")
    assert uncalled == [], "query-layer functions only tests reach"
