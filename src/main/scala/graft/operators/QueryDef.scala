package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its builder over (session, sfDir), and
  * the DuckDB-runnable SQL twin the oracle compare runs against the same
  * parquet (same column names, deterministic ORDER BY).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
