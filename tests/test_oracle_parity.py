"""Every registered query with an oracle must match DuckDB at sf0.001.

This is a fast local mirror of the driver's t2 gate (which runs at
sf0.01); the driver's comparison is authoritative, this catches drift
early.
"""

from __future__ import annotations

import pytest

from pyspark_dist_explore_spark.plans.queries import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare

CASES = [name for name, spec in REGISTRY.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", CASES)
def test_oracle_parity(spark, name):
    spec = REGISTRY[name]
    compare(spark, SF_SMOKE, spec.build, spec.oracle)


ROWS_ONLY = [name for name, spec in REGISTRY.items() if spec.oracle is None]


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = REGISTRY[name].build(spark, SF_SMOKE)
    assert df.count() > 0


def test_transcendental_oracle_allowlist():
    """ORACLES.md promotion rule, enforced: only the four audited class-C
    queries may carry ln/exp/pow in their oracle SQL (margins measured in
    knife_probe.py).  A new transcendental column must be measured and
    added there BEFORE it can register — otherwise it lands in the same
    cross-build knife-edge class that turned text_perplexity red in
    round 6."""
    import re

    ALLOWED = {
        "hist_density_kde",          # KDE gaussian: exp + pow bandwidth
        "text_tfidf",                # idf ln
        "histogram_drift_groups",    # PSI ln
        "scalar_unpivot_part",       # price_ln
        "corpus_token_budget",       # X70 A-ES key ln(u)/w — audited by
        # knife_probe.py's RANK-GAP variant (the hashed artifact is the
        # selected set + ranks, so the fragile quantity is the adjacent
        # key gap, ~1e12 ulps at both gate scales; ORACLES.md r14 row)
    }
    offenders = []
    for name, spec in REGISTRY.items():
        if not spec.oracle or name in ALLOWED:
            continue
        sql = spec.oracle.lower()
        for fn in ("ln(", "exp(", "pow("):
            if fn in sql:
                offenders.append((name, fn))
    assert not offenders, (
        f"unaudited transcendental in oracle SQL: {offenders} — measure the "
        "rounding-boundary margin with knife_probe.py and extend ORACLES.md "
        "before registering"
    )


def test_gate_corpus_stays_under_audit_caps():
    """r13 advice, pinned: the 600-row audit caps (``_BPE_CAP``,
    ``_EXACT_CAP``, the word2vec/semdedup slices) assume the sf0.01 gate
    corpus keeps every id under 600.  If a testdata regeneration ever
    grows the gate tables past the caps, the capped audit/exact-baseline
    sections would silently shrink to a sample — both engines stay
    consistent so the oracle hashes would still PASS, masking the
    coverage loss.  Fail loudly here instead."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark_dist_explore_spark.plans.llm_ops import _BPE_CAP, _EXACT_CAP
    from tests.conftest import SF_ORACLE

    max_doc = pc.max(
        pq.read_table(f"{SF_ORACLE}/documents.parquet", columns=["doc_id"])["doc_id"]
    ).as_py()
    max_vec = pc.max(
        pq.read_table(f"{SF_ORACLE}/embeddings.parquet", columns=["vec_id"])["vec_id"]
    ).as_py()
    assert max_doc < _BPE_CAP, (
        f"sf0.01 documents max doc_id {max_doc} >= _BPE_CAP {_BPE_CAP} — "
        "the BPE/word2vec audit slices no longer cover the gate corpus"
    )
    assert max_vec < _EXACT_CAP, (
        f"sf0.01 embeddings max vec_id {max_vec} >= _EXACT_CAP {_EXACT_CAP} — "
        "the exact ANN ground-truth sections no longer cover the gate corpus"
    )


def test_text_perplexity_gate_projection_is_integer_only(spark):
    """The round-7 fix, pinned: every hashed column of the registered
    text_perplexity projection is an exact integer type — no double can
    reappear at this gate without failing here first."""
    from pyspark.sql.types import IntegerType, LongType

    df = REGISTRY["text_perplexity"].build(spark, SF_SMOKE)
    for f in df.schema.fields:
        assert isinstance(f.dataType, (IntegerType, LongType)), (
            f"{f.name}: {f.dataType} — the gate projection must stay "
            "transcendental-free (ORACLES.md)"
        )


def test_approx_sketches_null_flag_matches_oracle(spark, tmp_path):
    """A NULL l_returnflag forms its own group in the oracle's GROUP BY;
    the slot's null-safe sketch join keeps those rows in every group
    and global count."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark_dist_explore_spark.sources.tables import TABLES

    for t in TABLES:
        if t != "lineitem":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    flag = li["l_returnflag"]
    nulled = pc.if_else(
        pc.equal(pc.bit_wise_and(li["l_orderkey"], 7), 0),
        pa.scalar(None, flag.type),
        flag,
    )
    assert 0 < nulled.null_count < len(li)
    pq.write_table(
        li.set_column(li.schema.get_field_index("l_returnflag"), "l_returnflag", nulled),
        tmp_path / "lineitem.parquet",
    )
    spec = REGISTRY["approx_sketches"]
    compare(spark, str(tmp_path), spec.build, spec.oracle)
