"""Output checks, computed independently of the program under test.

Each check returns a list of problems; an empty list means the output is
correct. The flow checks recompute the expected answer from the raw
input files with DuckDB, never through Spark.
"""

from __future__ import annotations

import json

import duckdb
import pyarrow.parquet as pq

import gen
from pyspark_recs.pipeline import FlowConfig

_LATEST = """
  (SELECT * FROM read_parquet('{path}/*.parquet')
   WHERE etl_id = (SELECT etl_id FROM read_parquet('{path}/*.parquet')
                   ORDER BY etl_timestamp DESC, etl_id DESC LIMIT 1))
"""


def _field(name: str, sql_type: str) -> str:
    return f"CAST(json_extract_string(raw_data, '$.{name}') AS {sql_type})"


def expected_flow_users(raw_dir: str) -> int:
    """Test-window users of the flow, from the raw envelopes: latest batch
    per table, exact-row dedup with every (article, customer) row moved to
    the pair's last date, inner join to articles and customers, customers
    with >= ``FlowConfig().min_purchases`` training-window rows, purchases
    on or after the validation end date."""
    sql = f"""
    WITH tx AS (
      SELECT DISTINCT {_field('article_id', 'INTEGER')} AS article_id,
             {_field('customer_id', 'VARCHAR')} AS customer_id,
             {_field('price', 'DOUBLE')} AS price,
             {_field('sales_channel_id', 'INTEGER')} AS channel,
             {_field('t_dat', 'DATE')} AS t_dat
      FROM {_LATEST.format(path=raw_dir + '/transactions')}),
    dedup AS (
      SELECT article_id, customer_id,
             max(t_dat) OVER (PARTITION BY article_id, customer_id) AS t_dat
      FROM tx),
    art AS (SELECT {_field('article_id', 'INTEGER')} AS article_id
            FROM {_LATEST.format(path=raw_dir + '/articles')}),
    cust AS (SELECT {_field('customer_id', 'VARCHAR')} AS customer_id
             FROM {_LATEST.format(path=raw_dir + '/customers')}),
    joined AS (
      SELECT d.* FROM dedup d JOIN art USING (article_id)
      JOIN cust USING (customer_id)),
    frequent AS (
      SELECT customer_id FROM joined WHERE t_dat < DATE '{gen.TRAIN_END}'
      GROUP BY customer_id HAVING count(*) >= {FlowConfig().min_purchases})
    SELECT count(DISTINCT customer_id) FROM joined
    WHERE t_dat >= DATE '{gen.VALID_END}'
      AND customer_id IN (SELECT customer_id FROM frequent)
    """
    with duckdb.connect() as con:
        return con.execute(sql).fetchone()[0]


def latest_article_ids(raw_dir: str) -> set[str]:
    sql = f"SELECT {_field('article_id', 'VARCHAR')} FROM " + _LATEST.format(
        path=raw_dir + "/articles"
    )
    with duckdb.connect() as con:
        return {r[0] for r in con.execute(sql).fetchall()}


def check_flow(result, export_path: str, n_users: int, articles: set[str],
               k: int) -> list[str]:
    problems = []
    got_users = result.test_metrics.get("n_users")
    if got_users != n_users:
        problems.append(f"test n_users {got_users} != expected {n_users}")
    rows = pq.read_table(export_path).to_pylist()
    if len(rows) != n_users:
        problems.append(f"export has {len(rows)} users, expected {n_users}")
    for row in rows:
        recs = json.loads(row["recs"])
        if len(recs) > k or len(set(recs)) != len(recs) or not set(recs) <= articles:
            problems.append(f"bad recs for user {row['userId']}: {recs}")
            break
    if not 0.0 < result.test_metrics.get(f"recall_at_{k}", 0.0) <= 1.0:
        problems.append(f"recall out of range: {result.test_metrics}")
    return problems


def check_lookup(answer, req: gen.Request, seed: int, k: int) -> bool:
    expected = gen.expected_recs(seed, int(req.user_id), k) if req.known else []
    return answer == expected


def gopher_passes(text: str) -> bool:
    """Python twin of ``llmops.textstats.gopher_rules`` at its defaults."""
    words = [w for w in text.split(" ") if w]
    n = len(words)
    if not 30 <= n <= 100:
        return False
    mean_len = sum(len(w) for w in words) / n
    stop = sum(w in gen.STOPWORDS for w in words) / n
    return 3.0 <= mean_len <= 8.0 and stop >= 0.05


def expected_chunks(text: str, stride: int) -> int:
    n = len([w for w in text.split(" ") if w])
    return (n - 1) // stride + 1


def dedup_quality(corpus: gen.Corpus, kept: set[int],
                  canonical: set[int]) -> tuple[float, float]:
    """(recall, precision) of near-duplicate removal against the planted
    clusters. Each planted cluster with c kept members should lose c - 1
    of them; a removed document outside any such cluster is a false
    positive."""
    root = {d: d for d, _, _ in corpus.docs}
    for copy, orig in corpus.dup_of.items():
        root[copy] = orig
    clusters: dict[int, list[int]] = {}
    for d in kept:
        clusters.setdefault(root[d], []).append(d)
    expected = sum(len(c) - 1 for c in clusters.values())
    removed = kept - canonical
    true_removed = sum(
        min(len(c) - 1, sum(d in removed for d in c)) for c in clusters.values()
    )
    recall = true_removed / expected if expected else 1.0
    precision = true_removed / len(removed) if removed else 1.0
    return recall, precision
