package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see SURVEY.md §7 + BASELINE.md.
  *
  * `registry` declares every query once, its builder next to its DuckDB
  * SQL twin; `queries` and `oracleSql` are the two name-keyed views the
  * driver and the benches read.
  */
object SparkEntry {

  /** Flagship query (sf0.001; driver smoke-checks rows>0): the reference's
    * entire per-message data plane in one pipeline — decode-guard, POISON
    * filter, format dispatch, enrichment — over the events log
    * (reference/app/app.py:393-526).
    */
  def entry(spark: SparkSession): DataFrame = {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val tsMs = unix_millis(col("ts"))
    e.filter(Envelope.forwardable(col("props")))
      .select(
        col("event_id").as("ess_ordinal"),
        tsMs.as("ess_timestamp"),
        col("event_type").as("message_type"),
        when(Envelope.isJson(col("props")),
             Envelope.enrichJson(col("props"), col("event_id"), tsMs))
          .otherwise(Envelope.enrichProtoText(col("props"), col("event_id"), tsMs))
          .as("wire"))
  }

  /** The query inventory (SURVEY.md §2): every operator object's queries,
    * one [[QueryDef]] per name. A name registered twice fails here, when
    * the registry loads, instead of one object silently shadowing another.
    */
  val registry: Seq[QueryDef] = unique(
    EventQueries.queries ++ RelationalQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ TextQueries.queries ++ MultimodalQueries.queries ++
      ExtendedQueries.queries ++ DeepRelational.queries ++ Round3Queries.queries ++
      Round4Queries.queries ++ Round7Queries.queries ++ Round9Queries.queries ++
      Round11Queries.queries ++ Round12Queries.queries ++ Round13Queries.queries ++
      Round14Queries.queries ++ Round15Queries.queries ++ Round17Queries.queries ++
      AnalyticsQueries.queries ++ GraphQueries.queries ++ WarehouseQueries.queries)

  private[graft] def unique(qs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Builder per registered query name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** DuckDB-runnable ANSI SQL twin per registered query name. */
  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
