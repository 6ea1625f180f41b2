"""Figures of a star-schema table directory, to compare the generated
inputs with the testdata they imitate.

    python3 perfbench/figures.py <table dir>       # e.g. the testdata's sf0.01
    python3 perfbench/figures.py --seed 1 --sizes sf0.01

The second form writes the generated tables to ``.perfbench/figures`` first.
Prints one JSON object: row counts, lines per order, ship-minus-order days,
events per user and event values, document length and vocabulary, planted
near-duplicates and trigram-Jaccard >= 0.8 pairs, embedding dimension, norm
and 99th-percentile pairwise cosine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def figures(table_dir: str) -> dict:
    import numpy as np

    import __spark_entry__ as entry
    from catabra_pandas_spark.sources import TABLES
    from perfbench.checks import duckdb_connect

    con = duckdb_connect(table_dir, TABLES)

    def one(sql):
        return [round(x, 3) if isinstance(x, float) else x
                for x in con.execute(sql).fetchone()]

    pairs = entry._ngram_sql(0.8)
    emb = np.stack(con.execute("SELECT embedding FROM embeddings").fetchnumpy()["embedding"])
    cos = (emb @ emb.T)[np.triu_indices(len(emb), 1)]
    return {
        "rows": {t: one(f"SELECT count(*) FROM {t}")[0] for t in TABLES},
        "lines_per_order_mean_max_orders_with_lines": one(
            "SELECT avg(c), max(c), count(*) / (SELECT count(*) FROM orders) "
            "FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)"),
        "ship_minus_order_days_min_mean_max": one(
            "SELECT min(d), avg(d), max(d) FROM (SELECT date_diff('day', "
            "o_orderdate::TIMESTAMP, l_shipdate::TIMESTAMP) AS d "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"),
        "users_events_per_user_mean_max": one(
            "SELECT count(*), avg(c), max(c) FROM "
            "(SELECT count(*) AS c FROM events GROUP BY user_id)"),
        "event_value_mean_max": one("SELECT avg(value), max(value) FROM events"),
        "doc_words_min_mean_max": one(
            "SELECT min(n), avg(n), max(n) FROM "
            "(SELECT len(string_split(text, ' ')) AS n FROM documents)"),
        "doc_vocabulary": one("SELECT count(DISTINCT w) FROM "
                              "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)")[0],
        "docs_ending_dup": one("SELECT count(*) FROM documents WHERE text LIKE '% dup'")[0],
        "jaccard_0.8_pairs_docs_in_pair": one(
            f"SELECT count(*), (SELECT count(*) FROM (SELECT id_a FROM ({pairs}) "
            f"UNION SELECT id_b FROM ({pairs}))) FROM ({pairs})"),
        "embedding_dim_norm_cos_p99": [int(emb.shape[1]),
                                       round(float(np.linalg.norm(emb, axis=1).mean()), 3),
                                       round(float(np.quantile(cos, 0.99)), 3)],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("table_dir", nargs="?")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--sizes", choices=("sf0.001", "sf0.01"))
    args = ap.parse_args()
    if args.table_dir is None:
        if args.seed is None or args.sizes is None:
            ap.error("give a table dir, or --seed and --sizes")
        from perfbench import data

        sizes = data.SF0_001 if args.sizes == "sf0.001" else data.SF0_01
        args.table_dir = data.write_tables(
            os.path.join(ROOT, ".perfbench", "figures"), args.seed, sizes)
    print(json.dumps(figures(args.table_dir)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
