"""The shared text rules: the word-token array and the near-dup and
n-gram row builders agree across dialects, and no other package
function restates the token filter, the Gopher staging or one of the
near-dup SQL renderers."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators import dedup
from pyspark_dist_explore_spark.operators.dedup import word_tokens, word_tokens_sql
from pyspark_dist_explore_spark.operators.textstats import (
    _cls_grams_from_tokens,
    _cls_grams_sql,
)
from tests.conftest import EDGE_DOCS
from tests.oracle_utils import twin_rows
from tests.test_hashing import PACKAGE, _code_only

#: (module, function) pairs allowed to write each pattern: the token
#: filter lives in ``word_tokens``/``word_tokens_sql`` (the BPE cleaners
#: filter sentinel-stripped tokens, another array), and each near-dup or
#: n-gram SQL idiom in its one renderer; an empty set bans a hand copy
ALLOWED = {
    'lambda x: x != ""': {
        ("operators/dedup.py", "word_tokens"),
        ("operators/textstats.py", "bpe_encode"),
        ("operators/textstats.py", "unigram_encode"),
    },
    "x -> x <> ''": {
        ("operators/dedup.py", "word_tokens_sql"),
        ("operators/textstats.py", "_bpe_clean_words_sql"),
    },
    "gopher_signal_exprs(": {("operators/textstats.py", "_gopher_gate")},
    "unnest(generate_series(1, len(l))) - 1": {("operators/dedup.py", "_token_rows_sql")},
    "list_distinct(string_split(": {("operators/dedup.py", "_distinct_token_rows_sql")},
    "OR (n_tok < ": {("operators/dedup.py", "_gram_rows_sql")},
    "lead(tok, {j}) OVER w": {("operators/dedup.py", "_gram_rows_sql")},
    "n_inter AS DOUBLE) / (": {("operators/dedup.py", "_jaccard_at_least_sql")},
    "walk(node, lbl)": {("operators/dedup.py", "neardup_clusters_sql")},
    "i -> {l}[i] || ' ' || {l}[i + 1]": {("operators/textstats.py", "_cls_grams_sql")},
    "i -> l[i] || ' ' || l[i + 1]": set(),
}

#: EDGE_DOCS plus docs that repeat tokens and share most of their words,
#: so the gram windows, the distinct-token sets and the Jaccard pairs
#: all have rows to compare
TWIN_DOCS = EDGE_DOCS + [
    (11, "the cat sat on the mat the cat sat"),
    (12, "The cat sat on the mat, the cat sat."),
    (13, "a b a b a b a b a b a b a b a b"),
    (14, "a b a b c d"),
    (15, " ".join(f"w{i % 7}" for i in range(30))),
]

#: (Spark builder, DuckDB renderer) of each near-dup and n-gram twin
#: pair over a ``(doc_id, text)`` input
TWINS = {
    "token_rows": (
        lambda df: dedup._token_rows(df, "text", "doc_id"),
        dedup._token_rows_sql,
    ),
    "distinct_token_rows": (
        lambda df: dedup._distinct_token_rows(df, "text", "doc_id"),
        dedup._distinct_token_rows_sql,
    ),
    **{
        f"gram_rows_{n}": (
            lambda df, n=n: dedup._gram_rows(dedup._token_rows(df, "text", "doc_id"), n),
            lambda src, n=n: dedup._gram_rows_sql(dedup._token_rows_sql(src), n),
        )
        for n in (1, 3, 13)
    },
    "jaccard_pairs_exact": (
        lambda df: dedup.jaccard_pairs_exact(df, "text", "doc_id", threshold=0.3),
        lambda src: dedup.jaccard_pairs_exact_sql(src, 0.3),
    ),
    "neardup_clusters": (
        lambda df: dedup.neardup_clusters(
            dedup.jaccard_pairs_exact(df, "text", "doc_id", threshold=0.3)
        ).select("doc_id", "cluster_id"),
        lambda src: dedup.neardup_clusters_sql(dedup.jaccard_pairs_exact_sql(src, 0.3)),
    ),
    "cls_grams": (
        lambda df: df.select(
            "doc_id", _cls_grams_from_tokens(word_tokens(F.col("text")), bigrams=True)
        ),
        lambda src: (
            f"SELECT doc_id, {_cls_grams_sql('l', bigrams=True)} "
            f"FROM (SELECT doc_id, {word_tokens_sql('text')} AS l FROM ({src}))"
        ),
    ),
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


@pytest.mark.parametrize("name", list(TWINS))
def test_neardup_twins_give_the_same_rows(spark, name):
    build, oracle = TWINS[name]
    got, want = twin_rows(spark, TWIN_DOCS, build, oracle)
    assert got == want and len(got) > 0


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
