"""Data-governance queries (registered round 5): pseudonymization and
k-anonymity auditing — the privacy layer a corpus platform runs before
sharing or joining user-keyed data.

Complements the PII redaction battery (queries/textpipe.py:
text_pii_redact): redaction scrubs free text, pseudonymization replaces
JOIN KEYS with salted one-way tokens so datasets stay linkable without
exposing identity, and the k-anonymity audit quantifies how
re-identifiable the remaining quasi-identifier combinations are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables
from fletcher_spark.queries.registry import query

#: Deployment salt — a plan literal here; production injects a secret.
_SALT = "fletcher-spark-demo-salt"


@query(
    "privacy_pseudonymize",
    oracle=f"""
SELECT
  sha256('{_SALT}' || CAST(user_id AS VARCHAR))         AS user_token,
  substr(sha256('{_SALT}' || CAST(event_id AS VARCHAR)), 1, 16) AS event_token,
  event_type,
  round(value, 4)                                       AS value
FROM events
WHERE event_type <> 'error'
""",
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash pseudonymization: replace identifying keys with
    SHA-256(salt || key) tokens.  Joins across datasets sharing the
    salt still work (identical key → identical token) while raw ids
    never leave the cluster; the truncated event token shows the
    space/collision trade (64 bits here).

    Map-only: one codegen projection, no shuffle, no UDF — the hash is
    JVM-side and byte-identical to the oracle's sha256.  At 100 TB this
    is a pass-through rewrite; salting prevents rainbow-table reversal
    of low-cardinality key spaces (a bare hash of a 10-digit id space
    is enumerable in minutes)."""
    e = load_tables(spark, sf_dir)["events"]
    return e.filter(F.col("event_type") != "error").select(
        F.sha2(F.concat(F.lit(_SALT), F.col("user_id").cast("string")), 256).alias(
            "user_token"
        ),
        F.substring(
            F.sha2(F.concat(F.lit(_SALT), F.col("event_id").cast("string")), 256), 1, 16
        ).alias("event_token"),
        "event_type",
        F.round("value", 4).alias("value"),
    )


@query(
    "privacy_k_anonymity",
    oracle="""
WITH q AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS balance_band,
         count(*) AS grp
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(min(grp) AS BIGINT)                         AS min_group,
       CAST(count(*) FILTER (WHERE grp < 5) AS BIGINT)  AS groups_below_k,
       COALESCE(CAST(sum(grp) FILTER (WHERE grp < 5) AS BIGINT), 0) AS rows_below_k,
       CAST(count(*) AS BIGINT)                         AS n_groups,
       CAST(sum(grp) AS BIGINT)                         AS n_rows
FROM q
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier combination
    (nation, market segment, coarse balance band): how many equivalence
    classes are smaller than k, and how many ROWS sit in them — the
    rows an attacker could re-identify by joining public attributes.
    The generalization lever is visible in the query itself: the
    balance band is already coarsened to 1000-unit buckets; auditing
    tighter bands raises groups_below_k, which is exactly the
    generalize-vs-utility dial.

    One hash aggregate over the quasi-identifiers, then a 1-row
    summary — two shuffles of |groups| rows, corpus scanned once."""
    c = load_tables(spark, sf_dir)["customer"]
    q = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).alias("balance_band"),
    ).agg(F.count(F.lit(1)).alias("grp"))
    below = F.col("grp") < 5
    return q.agg(
        F.min("grp").alias("min_group"),
        F.count(F.when(below, 1)).alias("groups_below_k"),
        F.coalesce(F.sum(F.when(below, F.col("grp"))), F.lit(0)).alias("rows_below_k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("grp").alias("n_rows"),
    )
