"""Shape statistics of a corpus: the properties of the inputs that
drive the engine's work (join fan-out, selectivity, result sizes,
near-duplicate pairs, cosine score spread), computed with DuckDB.

    python3 perfbench/shape.py DIR [DIR ...]

prints them for each corpus directory side by side. ``gen.py`` is
fitted so that its corpora match ``REFERENCE``, the statistics of the
engine's sf0.01 fixture tables; ``check`` compares a
generated corpus with them.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

# name -> SQL returning one number
STATS = {
    # star schema: key domains and join fan-out
    "lines_per_order": "SELECT COUNT(*) / COUNT(DISTINCT l_orderkey) FROM lineitem",
    "orders_with_lines": "SELECT (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) / COUNT(*) FROM orders",
    "orders_per_customer": "SELECT COUNT(*) / COUNT(DISTINCT o_custkey) FROM orders",
    "customers_with_orders": "SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) / COUNT(*) FROM customer",
    "parts_sold": "SELECT (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) / COUNT(*) FROM part",
    "first_orderkey": "SELECT MIN(o_orderkey) FROM orders",
    "ship_after_order": """
        SELECT AVG(CASE WHEN l_shipdate > o_orderdate THEN 1.0 ELSE 0.0 END)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "quantity_mean": "SELECT AVG(l_quantity) FROM lineitem",
    "extprice_per_qty": "SELECT AVG(l_extendedprice / l_quantity) FROM lineitem",
    "discount_mean": "SELECT AVG(l_discount) FROM lineitem",
    "totalprice_mean": "SELECT AVG(o_totalprice) FROM orders",
    "brands": "SELECT COUNT(DISTINCT p_brand) FROM part",
    "part_types": "SELECT COUNT(DISTINCT p_type) FROM part",
    "part_names": "SELECT COUNT(DISTINCT p_name) FROM part",
    "events_per_user": "SELECT COUNT(*) / COUNT(DISTINCT user_id) FROM events",
    "event_value_mean": "SELECT AVG(value) FROM events",
    # documents
    "doc_words_mean": "SELECT AVG(LENGTH(string_split(text, ' '))) FROM documents",
    "doc_words_min": "SELECT MIN(LENGTH(string_split(text, ' '))) FROM documents",
    "doc_words_max": "SELECT MAX(LENGTH(string_split(text, ' '))) FROM documents",
    "doc_distinct_share": "SELECT COUNT(DISTINCT text) / COUNT(*) FROM documents",
    "doc_vocab": "SELECT COUNT(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
    "doc_chars_ge_400": "SELECT AVG(CASE WHEN n_chars >= 400 THEN 1.0 ELSE 0.0 END) FROM documents",
    "doc_words_ge_40": "SELECT AVG(CASE WHEN LENGTH(string_split(text, ' ')) >= 40 THEN 1.0 ELSE 0.0 END) FROM documents",
    # embeddings
    "emb_norm_mean": "SELECT AVG(sqrt(list_dot_product(embedding, embedding))) FROM embeddings",
    # mean cosine to same-label minus to other-label vectors: 0 when
    # the label is not a cluster id
    "emb_label_cos_gap": """
        SELECT AVG(c) FILTER (WHERE same) - AVG(c) FILTER (WHERE NOT same)
        FROM (SELECT a.label = b.label AS same,
                     list_cosine_similarity(a.embedding, b.embedding) AS c
              FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id)""",
}
# name -> query whose DuckDB oracle result it summarises
RESULT_STATS = {
    # near-duplicate pairs (Jaccard >= 0.8 on word 5-gram shingles) per document
    "dup_pairs_per_doc": ("q_dedup_minhash", lambda df, n: len(df) / n["documents"]),
    # cosine top-5 scores of the 20 query vectors
    "topk_cos_rank1": ("q_sim_cosine_topk", lambda df, n: df[df.rnk == 1].cos.mean()),
    "topk_cos_rank5": ("q_sim_cosine_topk", lambda df, n: df[df.rnk == 5].cos.mean()),
    "kmeans_largest_share": ("q_cluster_kmeans", lambda df, n: df.n_vecs.max() / n["embeddings"]),
    "pipeline_docs_share": ("q_pipeline_e2e", lambda df, n: df.n_docs.sum() / n["documents"]),
    # relational result sizes, per 1000 lineitem rows where they scale
    "q3_rows": ("q_tpch_q3", lambda df, n: len(df)),
    "q5_rows": ("q_tpch_q5", lambda df, n: len(df)),
    "q9_rows": ("q_tpch_q9", lambda df, n: len(df)),
    "q18_rows_per_1k_lines": ("q_tpch_q18", lambda df, n: 1000 * len(df) / n["lineitem"]),
    "join_inner_rows_per_1k_lines": ("q_join_inner", lambda df, n: 1000 * len(df) / n["lineitem"]),
    "topk_pergroup_rows": ("q_topk_pergroup", lambda df, n: len(df)),
    "stream_tumbling_rows": ("q_stream_tumbling", lambda df, n: len(df)),
}

# Measured on the engine's fixture tables (seed 42) at sf0.01 with
# ``python3 perfbench/shape.py``.
REFERENCE: dict[float, dict[str, float]] = {
    0.01: {
        "lines_per_order": 4.07,
        "orders_with_lines": 0.9829,
        "orders_per_customer": 10.0,
        "customers_with_orders": 1.0,
        "parts_sold": 1.0,
        "first_orderkey": 0.0,
        "ship_after_order": 0.5137,
        "quantity_mean": 25.4,
        "extprice_per_qty": 4765.0,
        "discount_mean": 0.04992,
        "totalprice_mean": 250600.0,
        "brands": 25.0,
        "part_types": 6.0,
        "part_names": 64.0,
        "events_per_user": 66.67,
        "event_value_mean": 49.63,
        "doc_words_mean": 54.33,
        "doc_words_min": 10.0,
        "doc_words_max": 99.0,
        "doc_distinct_share": 1.0,
        "doc_vocab": 31.0,
        "doc_chars_ge_400": 0.292,
        "doc_words_ge_40": 0.662,
        "emb_norm_mean": 1.0,
        "emb_label_cos_gap": 0.0007908,
        "dup_pairs_per_doc": 0.05,
        "topk_cos_rank1": 0.3722,
        "topk_cos_rank5": 0.2962,
        "kmeans_largest_share": 0.286,
        "pipeline_docs_share": 0.662,
        "q3_rows": 813.0,
        "q5_rows": 5.0,
        "q9_rows": 175.0,
        "q18_rows_per_1k_lines": 24.25,
        "join_inner_rows_per_1k_lines": 0.08333,
        "topk_pergroup_rows": 2998.0,
        "stream_tumbling_rows": 3385.0,
    },
}
# A generated corpus must match each statistic within DEFAULT_TOL of
# the reference value, or within its ABS_TOL where that is larger.
DEFAULT_TOL = 0.15
ABS_TOL = {"emb_label_cos_gap": 0.01}


def stats(sf_dir: str) -> dict[str, float]:
    from plankton_spark.registry import all_oracles
    from tools.oracle_check import duck_connect

    con = duck_connect(sf_dir)
    try:
        out = {name: float(con.execute(sql).fetchone()[0]) for name, sql in STATS.items()}
        rows = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in ("documents", "embeddings", "lineitem")}
        oracles = all_oracles()
        results: dict = {}
        for name, (q, f) in RESULT_STATS.items():
            if q not in results:
                results[q] = con.execute(oracles[q]).fetchdf()
            out[name] = float(f(results[q], rows))
    finally:
        con.close()
    return out


def check(sf: float, got: dict[str, float]) -> list[str]:
    """The statistics of ``got`` that are off REFERENCE[sf] by more than
    their tolerance, as messages."""
    bad = []
    for name, want in REFERENCE[sf].items():
        tol = max(DEFAULT_TOL * abs(want), ABS_TOL.get(name, 0.0))
        if abs(got[name] - want) > tol:
            bad.append(f"{name}: {got[name]:.4g} vs {want:.4g} (tolerance ±{tol:.3g})")
    return bad


def main(dirs: list[str]) -> None:
    cols = [stats(d) for d in dirs]
    print(f"{'statistic':30s}" + "".join(f"{os.path.basename(d.rstrip('/')):>14s}" for d in dirs))
    for name in cols[0]:
        print(f"{name:30s}" + "".join(f"{c[name]:14.6g}" for c in cols))


if __name__ == "__main__":
    main(sys.argv[1:])
