"""Output checks that run outside the JVM, and per-layer metric units.

etl_batch is checked against DuckDB computing the same SQL over the same
generated inputs. The other workloads are checked inside the JVM program
(a key->row model for delta_upsert, set-up checksums for service_small,
a batch run of the same Streams function for stream_ingest).
"""
import glob
from decimal import Decimal

import duckdb

STOPWORDS = ("'the','and','of','to','in','is','that','for','with','was',"
             "'der','die','und','das','ist','nicht','ein','mit','für','von',"
             "'le','la','les','et','des','est','pour','dans','une','que',"
             "'el','los','de','en','es','por','con','para'")

# The product's quality_score and token_count, term by term (same
# operation order, so the doubles agree bit for bit).
DOCS = f"""
  s AS (SELECT lang,
          len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS n_tok,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              w -> w IN ({STOPWORDS}))) AS n_stop,
          greatest(length(text), 1) AS n_chars
        FROM documents),
  c AS (SELECT lang, n_tok,
          least(CAST(n_tok AS DOUBLE) / 20.0, 1.0) AS len_score,
          1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0) AS punct_score,
          least((CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 5.0, 1.0) AS stop_score
        FROM s),
  docs AS (SELECT lang, n_tok,
             floor((len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3) * 10000 + 0.5)
               / 10000 AS quality
           FROM c)"""

ETL = f"""
WITH li_agg AS (
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS revenue,
           CAST(sum(l_quantity) AS BIGINT) AS qty, count(*) AS n_lines
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' GROUP BY l_orderkey),
  ord AS (SELECT o_orderkey, o_custkey, o_orderpriority, year(o_orderdate) AS o_year
          FROM orders WHERE o_orderstatus <> 'P'),
  {DOCS},
  joined AS (
    SELECT o.o_orderpriority, o.o_year, c.c_mktsegment, l.revenue, l.qty
    FROM li_agg l JOIN ord o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT 'segment' AS kind, c_mktsegment AS dim, o_year, count(*) AS n,
       sum(revenue) AS revenue, sum(qty) AS qty
FROM joined GROUP BY c_mktsegment, o_year
UNION ALL
SELECT 'priority', o_orderpriority, o_year, count(*), sum(revenue), sum(qty)
FROM joined GROUP BY o_orderpriority, o_year
UNION ALL
SELECT 'lang', lang, 0, count(*),
       CAST(sum(CAST(quality AS DECIMAL(10,4))) AS DECIMAL(18,4)), sum(n_tok)
FROM docs GROUP BY lang
"""


def norm(row):
    return tuple(Decimal(str(v)) if isinstance(v, (Decimal, float)) else
                 (int(v) if isinstance(v, int) else v) for v in row)


def check_etl(input_dir, ops):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ["lineitem", "orders", "customer", "documents"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    want = sorted(norm(r) for r in con.execute(ETL).fetchall())
    summary = {}
    for r in want:
        n_rows, n = summary.get(r[0], (0, 0))
        summary[r[0]] = (n_rows + 1, n + r[3])
    want_read = ";".join(sorted(f"{k}:{v[0]}:{v[1]}" for k, v in summary.items()))
    for o in ops:
        if not o["ok"]:
            continue
        if o["kind"] == "read":
            if o["out"] != want_read:
                o["ok"], o["err"] = False, "read-back differs from DuckDB"
            continue
        files = glob.glob(f"{o['out']}/**/*.parquet", recursive=True)
        got = sorted(norm(r) for r in con.execute(
            "SELECT kind, dim, o_year, n, revenue, qty FROM read_parquet(?, hive_partitioning=1)",
            [files]).fetchall()) if files else []
        if got != want:
            o["ok"], o["err"] = False, "pipeline output differs from DuckDB"


def check(workload, input_dir, ops):
    if workload == "etl_batch":
        check_etl(input_dir, ops)


def layer_unit(name):
    for suffix, unit in [("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"),
                         ("_ratio", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"
