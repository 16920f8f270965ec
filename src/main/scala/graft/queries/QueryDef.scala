package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark `engine` (session, sf dir) → result,
  * the DuckDB `oracle` SQL its result must hash-match, and — for a
  * query whose output orders or thresholds doubles — the float-ranking
  * `audit` probe `tools/oracleaudit.py` runs. `SparkEntry`'s query
  * maps are aggregations over these. */
final case class QueryDef(name: String, engine: (SparkSession, String) => DataFrame,
    oracle: String, audit: Option[String] = None)
