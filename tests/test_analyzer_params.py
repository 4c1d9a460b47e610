"""The analysis-chain options are declared once, as ``AnalyzerSpec`` fields.

A function in ``lucene_spark/operators/`` that takes a chain option as a
named parameter would thread the chain by hand again, with its own
defaults and without the spec's combination rules. Take the options as
``**chain`` and build an ``AnalyzerSpec``, or take the spec itself.
``stopwords`` is exempt: the build kernel's positional API carries it.
"""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import lucene_spark
from lucene_spark.functions.analysis import AnalyzerSpec

OPERATORS = Path(lucene_spark.__file__).parent / "operators"


def _chain_parameters() -> list[tuple[str, str, list[str]]]:
    """``(file, function, chain options it declares)`` for every function
    in the operators package that declares one as a parameter."""
    options = {f.name for f in dataclasses.fields(AnalyzerSpec)}
    options.discard("stopwords")
    found = []
    for path in sorted(OPERATORS.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                names = {p.arg for p in a.posonlyargs + a.args
                         + a.kwonlyargs}
                hit = sorted(names & options)
                if hit:
                    found.append((path.name, getattr(node, "name",
                                                     "<lambda>"), hit))
    return found


def test_spec_has_the_32_chain_options():
    assert len(dataclasses.fields(AnalyzerSpec)) == 32


def test_no_operator_declares_a_chain_option():
    assert _chain_parameters() == []
