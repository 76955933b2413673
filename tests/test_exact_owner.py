"""trx_spark/exact.py as the one owner of the fixed-point decision: no
other module spells out the fixed-point sum, the array dot fold or the
double literal by hand, or keeps a private copy of an ``exact`` builder.
A second spelling is a second expression tree, and the oracle parity
rests on the Spark and DuckDB trees staying identical."""

from __future__ import annotations

import ast
import pathlib
import re

import trx_spark

_ROOT = pathlib.Path(trx_spark.__file__).parent
_OWNER = _ROOT / "exact.py"

_FP_SUM = re.compile(r"SUM\(\s*CAST\(\s*FLOOR\(", re.IGNORECASE)
_FOLD = re.compile(r"\b(zip_with|transform)\(", re.IGNORECASE)
_FLOOR = re.compile(r"FLOOR\(", re.IGNORECASE)
_COPIES = {"_fp_terms", "_fpsum_sql", "_fold_sum", "_dlit_sql", "wsum"}

# (module, enclosing def or module-level name) -> why its fixed-point
# text is a different decision from exact.py's sum
_EXEMPT = {
    ("queries/curation.py", "_RARITY_SQL"): (
        "rarity term floor(S / freq): S divided by the frequency, which "
        "rounds differently from fint(1 / freq)"
    ),
    ("queries/dataops.py", "_CCNET_SQL"): (
        "DSIR-style rarity score floor(S / freq), kept as an integer "
        "mean; not fint(1 / freq)"
    ),
    ("queries/similarity.py", "_pr_round_sql"): (
        "integer-mass PageRank: the BIGINT mass sum is the algorithm's "
        "state and is never finalised to a double"
    ),
}


def _strings(tree: ast.AST):
    """(owner, line, text) of every non-docstring string; an f-string is
    one text with ``{}`` for each placeholder. ``owner`` is the nearest
    enclosing def or the module-level assignment target."""
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))

    def visit(node, owner):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            owner = node.name
        elif isinstance(node, ast.Assign) and owner is None:
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            owner = names[0] if names else None
        if isinstance(node, ast.JoinedStr):
            text = "".join(
                v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
            )
            yield owner, node.lineno, text
            for v in node.values:  # placeholders may hold strings of their own
                if isinstance(v, ast.FormattedValue):
                    yield from visit(v.value, owner)
            return
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
        ):
            yield owner, node.lineno, node.value
        for child in ast.iter_child_nodes(node):
            yield from visit(child, owner)

    yield from visit(tree, None)


def _hand_spelled(path: pathlib.Path) -> list[str]:
    rel = path.relative_to(_ROOT).as_posix()
    tree = ast.parse(path.read_text(encoding="utf-8"))
    found = [
        f"{rel}:{node.lineno}: defines {node.name}"
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name in _COPIES
    ]
    for owner, line, text in _strings(tree):
        if (rel, owner) in _EXEMPT:
            continue
        if _FP_SUM.search(text):
            found.append(f"{rel}:{line}: fixed-point SUM(CAST(FLOOR( in {owner}")
        elif _FOLD.search(text) and _FLOOR.search(text):
            found.append(f"{rel}:{line}: FLOOR( inside a zip_with/transform fold in {owner}")
    return found


def test_exact_owns_fixed_point_arithmetic():
    found = []
    for path in sorted(_ROOT.rglob("*.py")):
        if path != _OWNER:
            found += _hand_spelled(path)
    assert not found, "fixed-point arithmetic outside exact.py:\n" + "\n".join(found)


def test_every_exemption_still_names_a_live_site():
    """An exemption whose site is gone, or no longer sums floor(·), is
    stale and must be removed with it."""
    live = set()
    for rel, owner in _EXEMPT:
        tree = ast.parse((_ROOT / rel).read_text(encoding="utf-8"))
        if any(o == owner and _FP_SUM.search(t) for o, _, t in _strings(tree)):
            live.add((rel, owner))
    assert live == set(_EXEMPT)
