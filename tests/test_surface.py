"""Package surface: what the four jobs, the API and the oracles reach.

The import closure of the entry modules (an ``ast`` walk over every
import statement, function-local ones included) must stay inside an
explicit allowlist, so a module only a deleted branch used cannot creep
back onto the job paths. The job CLI must offer exactly the job
subcommands, and every public function, class and method of the
closure must have a caller outside the tests. No Spark session is
started here.
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
    "pipeline", "schemas", "server", "serving_index", "session", "storage",
    "sync", "textproc",
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


# Fixture writers: tests build the inputs of product decoders with them
# (encode_pdf -> decode_pdf, encode_docx -> decode_docx, encode_pptx ->
# decode_pptx, render_page -> ocr_page), build corpus tables with
# documents_table, and ship the package to executors with ensure_shipped.
# They stay beside the code they mirror; moving them under tests/ would
# not remove a line.
TEST_SUPPORT = {
    "corpus.documents_table",
    "deploy.ensure_shipped",
    "training.docxmini.encode_docx",
    "training.ocrglyph.render_page",
    "training.pdfmini.encode_pdf",
    "training.pptxmini.encode_pptx",
}


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


def _public_defs(tree: ast.Module):
    """(qualified name, node) of every public module-level function and
    class, and of every public method of a public class."""
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            continue
        if node.name.startswith("_"):
            continue
        yield node.name, node
        if isinstance(node, ast.ClassDef):
            for member in node.body:
                if isinstance(member, ast.FunctionDef) and member.name[0] != "_":
                    yield f"{node.name}.{member.name}", member


def test_closure_has_no_test_only_functions():
    """Every public def of every closure module has a caller in the
    package, ``tools/`` or ``perfbench/``: code only tests reach goes
    with its tests. A method counts as called when its name is read as
    an attribute anywhere outside its own body."""
    callers = sorted(PKG.rglob("*.py")) + sorted((REPO / "tools").glob("*.py")) \
        + sorted((REPO / "perfbench").glob("*.py"))
    trees = {path: ast.parse(path.read_text()) for path in callers}
    uncalled = []
    for mod in sorted(ALLOWED):
        path = _source(mod)
        for qual, node in _public_defs(trees[path]):
            name = f"{mod}.{qual}" if mod else qual
            if name in TEST_SUPPORT:
                continue
            short = qual.rsplit(".", 1)[-1]
            if not any(
                short in _referenced_names(tree, node if p == path else None)
                for p, tree in trees.items()
            ):
                uncalled.append(name)
    assert uncalled == [], "closure functions only tests reach"
    # a stale exemption would let its function go uncalled unnoticed
    exempt = {
        f"{mod}.{qual}"
        for mod in ALLOWED
        for qual, _ in _public_defs(trees[_source(mod)])
    }
    assert TEST_SUPPORT - exempt == set(), "TEST_SUPPORT names no closure def"
