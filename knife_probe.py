"""Knife-edge audit probe for transcendental-derived oracle columns.

The driver gate hash-compares Spark vs DuckDB after ``round(x, n)``.  For
columns where x is exact integer/rational IEEE-754 arithmetic, both
engines produce bit-identical doubles and the round can never diverge.
For columns derived through ``ln``/``exp``/``pow`` (NOT correctly-rounded
under IEEE-754 — unlike ``sqrt``), a different libm/DuckDB build can
shift x by a few ulps; the hash then flips iff some row's x sits within
that perturbation of a rounding HALF-BOUNDARY (k + 0.5) · 10^-n.

This probe computes, per fragile column at the gate scale (sf0.01), the
minimum over all rows of the distance to the nearest half-boundary,
expressed in ulps of x.  A margin of 10^3+ ulps means a build would have
to mis-round ln/exp by thousands of ulps to flip the hash — far past any
real libm spread (observed spreads are ≤ ~2 ulps).  Results are recorded
in ORACLES.md.

Usage:  python knife_probe.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np

from pyspark_dist_explore_spark.sources.tables import TABLES

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def con_for(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def margin_report(name: str, values: np.ndarray, decimals: int) -> dict:
    """Min distance of values from the nearest round-half boundary of the
    10^-decimals grid, in absolute units and in ulps of the value."""
    v = np.asarray(values, dtype=np.float64)
    v = v[np.isfinite(v)]
    g = 10.0 ** decimals
    t = v * g
    frac = t - np.floor(t)
    dist_units = np.abs(frac - 0.5)  # in 10^-decimals units
    value_dist = dist_units / g
    ulp = np.spacing(np.abs(v) + np.where(v == 0, 1e-300, 0))
    margins = value_dist / ulp
    i = int(np.argmin(margins))
    return {
        "column": name,
        "rows": int(v.size),
        "decimals": decimals,
        "min_margin_ulps": float(margins[i]),
        "worst_value": float(v[i]),
        "min_dist_units": float(dist_units[i]),
    }


def fetch(con, sql: str) -> np.ndarray:
    return np.array([r[0] for r in con.execute(sql).fetchall()], dtype=np.float64)


def main() -> None:
    con = con_for(SF_DIR)
    reports = []

    # 1. scalar_unpivot_part.price_ln = round(ln(p_retailprice), 6)
    reports.append(
        margin_report(
            "scalar_unpivot_part.price_ln",
            fetch(con, "SELECT ln(p_retailprice) FROM part"),
            6,
        )
    )

    # 2. text_tfidf.tfidf = round(tf * (ln((N+1)/(df+1)) + 1), 6)
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    reports.append(
        margin_report(
            "text_tfidf.tfidf",
            fetch(
                con,
                f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term)
SELECT tf.tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1.0) AS v
FROM tf JOIN dfreq ON tf.term = dfreq.term, n
""",
            ),
            6,
        )
    )

    # 3. histogram_drift_groups.psi = round(sum((p-q)*ln(p/q)), 10), and the
    #    same arithmetic backs the per-corpus drift + streaming scorer
    from pyspark_dist_explore_spark.functions.numeric import bucket_sql

    bucket = bucket_sql("v", "__lo", "__hi", 8)
    reports.append(
        margin_report(
            "histogram_drift_groups.psi",
            fetch(
                con,
                f"""
WITH u AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v, 'ref' AS src
  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
  UNION ALL
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v, 'cur' AS src
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
    AND n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
),
mm AS (SELECT grp, min(v) AS __lo, max(v) AS __hi FROM u GROUP BY grp),
b AS (SELECT u.grp, u.src, {bucket} AS bucket FROM u JOIN mm ON u.grp = mm.grp),
cells AS (
  SELECT grp, bucket,
         sum(CASE WHEN src = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
         sum(CASE WHEN src = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
  FROM b GROUP BY grp, bucket
),
tot AS (SELECT grp, sum(ref_cnt) AS tr, sum(cur_cnt) AS tc FROM cells GROUP BY grp)
SELECT sum(
    (greatest(CASE WHEN tr > 0 THEN ref_cnt / tr ELSE 0.0 END, 1e-06)
     - greatest(CASE WHEN tc > 0 THEN cur_cnt / tc ELSE 0.0 END, 1e-06))
    * ln(greatest(CASE WHEN tr > 0 THEN ref_cnt / tr ELSE 0.0 END, 1e-06)
         / greatest(CASE WHEN tc > 0 THEN cur_cnt / tc ELSE 0.0 END, 1e-06))
  ) AS v
FROM cells JOIN tot ON cells.grp = tot.grp
GROUP BY cells.grp
""",
            ),
            10,
        )
    )

    # 4. hist_density_kde kde rows: round(<gaussian mixture>, 10) — exp() in
    #    every term, pow() in the bandwidth
    from pyspark_dist_explore_spark.plans.queries import _HIST_KDE_ORACLE
    import re

    unrounded = re.sub(
        r"round\((sum.*any_value\(n\)), 10\)", r"\1", _HIST_KDE_ORACLE, flags=re.S
    )
    assert "round" not in unrounded, "regex failed to strip the KDE round"
    kde_rows = con.execute(unrounded).fetchall()
    reports.append(
        margin_report(
            "hist_density_kde.density(kde)",
            np.array([r[3] for r in kde_rows], dtype=np.float64),
            10,
        )
    )

    # 5. vector cos_sim @6 (vector_exact_search / semantic_dedup assignment):
    #    dot products of unit vectors are ±*/÷/sqrt only — IEEE-determined
    #    per ACCUMULATION ORDER, but numpy (pairwise/BLAS) and DuckDB
    #    (sequential) may accumulate differently, so treat like class C
    #    and measure the boundary margin of every pairwise cosine
    unit = (
        "CASE WHEN sqrt(list_dot_product(ve, ve)) > 0 "
        "THEN list_transform(ve, x -> x / sqrt(list_dot_product(ve, ve))) "
        "ELSE list_transform(ve, x -> 0.0) END"
    )
    reports.append(
        margin_report(
            "vector_exact_search.cos_sim(all-pairs)",
            fetch(
                con,
                f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
u AS (SELECT vec_id, {unit} AS uv FROM v)
SELECT list_dot_product(a.uv, b.uv) AS v
FROM u a JOIN u b ON a.vec_id < b.vec_id
""",
            ),
            6,
        )
    )

    # 6. vector_exact_search lsh section: the bucket BIT is sign(projection)
    #    — a flip needs a projection within accumulation-drift of 0, so the
    #    relevant margin is min |proj| in ulps of the projection magnitude
    from pyspark_dist_explore_spark.operators.similarity import lsh_bucket_sql  # noqa: F401

    projs = []
    for p in range(4):
        sign = (
            f"CASE WHEN CAST(('0x' || substr(md5(CAST({p} AS VARCHAR) || ':' || "
            f"CAST(i AS VARCHAR)), 1, 1)) AS INT) % 2 = 0 THEN 1.0 ELSE -1.0 END"
        )
        projs.append(
            f"SELECT list_dot_product(uv, list_transform(range(len(uv)), i -> {sign})) AS v "
            f"FROM u"
        )
    proj_vals = fetch(
        con,
        f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
u AS (SELECT vec_id, {unit} AS uv FROM v)
{" UNION ALL ".join(projs)}
""",
    )
    pv = np.abs(proj_vals)
    ulp = np.spacing(np.abs(proj_vals))
    i = int(np.argmin(pv / ulp))
    reports.append(
        {
            "column": "vector_exact_search.lsh bucket sign(projection)",
            "rows": int(pv.size),
            "decimals": 0,
            "min_margin_ulps": float((pv / ulp)[i]),
            "worst_value": float(proj_vals[i]),
            "min_dist_units": float(pv[i]),
        }
    )

    # 7. vector_ann_topk ivf_packed section (round 8): the float 'ivf'
    #    section is class B (sequential fold both engines → identical
    #    bits), but the packed side computes its dots with an Arrow
    #    einsum (pairwise accumulation) vs DuckDB's sequential
    #    list_dot_product — class-C-like accumulation spread.  Two
    #    round-6 grids gate hashes: the assignment sims (argmax over
    #    cents) and the re-rank cos_sim.  Measure both over their FULL
    #    candidate sets (every vec×cent, every query×vec — supersets of
    #    what the query actually ranks, so the margins are conservative).
    from pyspark_dist_explore_spark.plans.llm_ops import (
        _IVF_CELLS,
        _IVF_QUERIES,
    )
    from pyspark_dist_explore_spark.operators.similarity import quantize_codes_sql

    dq_ctes = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
u AS (SELECT vec_id, {unit} AS uv FROM v),
cents AS (SELECT vec_id AS cent_id, uv AS cv FROM u WHERE vec_id < {_IVF_CELLS}),
q AS (SELECT vec_id AS query_id, uv AS qv FROM u WHERE vec_id < {_IVF_QUERIES}),
codes AS ({quantize_codes_sql("SELECT vec_id, embedding FROM embeddings")}),
ex AS (SELECT generate_subscripts(ve, 1) AS d, unnest(ve) AS x FROM v),
mmtab AS (SELECT d, min(x) AS lo, max(x) AS hi FROM ex GROUP BY d),
mml AS (SELECT list(lo ORDER BY d) AS los FROM mmtab),
mmh AS (SELECT list(hi ORDER BY d) AS his FROM mmtab),
dq AS (
  SELECT c.vec_id,
         list_transform(list_zip(c.codes, range(1, len(c.codes) + 1)),
           p -> mml.los[p[2]] + CAST(p[1] AS DOUBLE)
                * (mmh.his[p[2]] - mml.los[p[2]]) / 255.0) AS xv
  FROM codes c, mml, mmh
),
du AS (SELECT vec_id, {unit.replace('ve', 'xv')} AS uv FROM dq)
"""
    reports.append(
        margin_report(
            "vector_ann_topk.ivf_packed assignment sim",
            fetch(
                con,
                dq_ctes
                + "SELECT list_dot_product(d.uv, c.cv) AS v FROM du d, cents c",
            ),
            6,
        )
    )
    reports.append(
        margin_report(
            "vector_ann_topk.ivf_packed cos_sim",
            fetch(
                con,
                dq_ctes
                + "SELECT list_dot_product(q.qv, d.uv) AS v FROM du d, q "
                "WHERE d.vec_id <> q.query_id",
            ),
            6,
        )
    )

    # X70 weighted reservoir sampling (corpus_token_budget section
    # 'wrs'): the hashed artifact is the selected SET + ranks, so the
    # fragile quantity is not a rounding boundary but the ADJACENT KEY
    # GAP among the audited top-(k+1) keys per group — ln() drift can
    # only flip a rank if two keys sit within the ~2-ulp libm spread of
    # each other.  Reported as min gap in ulps of the key magnitude.
    from pyspark_dist_explore_spark.plans.llm_ops import (
        _MIX_NTOK, _WRS_K, _WRS_SALT,
    )

    wrs_rows = con.execute(
        f"SELECT source, ln((CAST(('0x' || substr(md5(concat('{_WRS_SALT}', "
        f"':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1) "
        f"/ 1152921504606846976.0) / CAST({_MIX_NTOK} + 1 AS DOUBLE) AS key "
        "FROM documents"
    ).fetchall()
    by_grp: dict = {}
    for src, key in wrs_rows:
        by_grp.setdefault(src, []).append(float(key))
    min_gap, audited = float("inf"), 0
    for keys in by_grp.values():
        keys.sort(reverse=True)
        top = keys[: _WRS_K + 1]
        audited += len(top)
        for a, b in zip(top, top[1:]):
            min_gap = min(min_gap, (a - b) / np.spacing(abs(a)))
    reports.append(
        {
            "column": "corpus_token_budget.wrs key gaps",
            "rows": audited,
            "decimals": 0,
            "min_margin_ulps": min_gap,
            "worst_value": float("nan"),
            "min_dist_units": float("nan"),
        }
    )

    con.close()
    for r in reports:
        print(
            f"{r['column']:42s} rows={r['rows']:6d} grid=1e-{r['decimals']}"
            f"  min_margin={r['min_margin_ulps']:.3e} ulps"
            f"  (worst value {r['worst_value']!r})"
        )


if __name__ == "__main__":
    main()
