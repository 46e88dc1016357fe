"""The shared text-gate rules: the word-token array agrees across
dialects, and no other package function restates the token filter or
the Gopher staging."""

from __future__ import annotations

import ast
import pathlib
import re

from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators.dedup import word_tokens, word_tokens_sql
from tests.conftest import EDGE_DOCS
from tests.oracle_utils import twin_rows
from tests.test_hashing import PACKAGE, _code_only

#: (module, function) pairs allowed to write each pattern: the token
#: filter lives in ``word_tokens``/``word_tokens_sql``; the BPE cleaners
#: filter sentinel-stripped tokens and the cluster score filters
#: distinct tokens, which are other arrays
ALLOWED = {
    'lambda x: x != ""': {
        ("operators/dedup.py", "word_tokens"),
        ("operators/textstats.py", "bpe_encode"),
        ("operators/textstats.py", "unigram_encode"),
        ("plans/llm_ops.py", "_cluster_quality_scores"),
    },
    "x -> x <> ''": {
        ("operators/dedup.py", "word_tokens_sql"),
        ("operators/textstats.py", "_bpe_clean_words_sql"),
    },
    "gopher_signal_exprs(": {("operators/textstats.py", "_gopher_gate")},
}


def test_word_tokens_match_in_both_dialects(spark):
    got, want = twin_rows(
        spark,
        EDGE_DOCS,
        lambda df: df.select("doc_id", word_tokens(F.col("text"))),
        lambda src: f"SELECT doc_id, {word_tokens_sql('text')} FROM ({src})",
    )
    assert got == want
    by_id = dict(got)
    assert by_id[1] == by_id[2] == by_id[3] == by_id[4] == []
    assert by_id[7] == ["a", "b", "c"]  # \x0B separates words on both engines


def _enclosing_functions(path: pathlib.Path) -> list[tuple[int, int, str]]:
    tree = ast.parse(path.read_text())
    return [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def test_text_rule_idioms_are_declared_once():
    found = {pattern: set() for pattern in ALLOWED}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        funcs = _enclosing_functions(path)
        for lineno, line in enumerate(_code_only(path).splitlines(), 1):
            for pattern in ALLOWED:
                if pattern not in line or re.match(r"\s*def ", line):
                    continue
                inner = [f for f in funcs if f[0] <= lineno <= f[1]]
                name = min(inner, key=lambda f: f[1] - f[0])[2] if inner else "<module>"
                found[pattern].add((rel, name))
    assert found == ALLOWED
