package graft

import org.apache.spark.sql.functions.col

/** Off-gate instrument for the BM25 core (round 18): the derived sf1
  * corpus (`dev/make_sf1.py`) suffixes every token per copy, so the
  * registered `t_bm25_topk` — a fixed public term set, by design — is
  * vacuously 0-row at sf1. This runs the SAME parameterized core
  * ([[graft.operators.Round17Queries.bm25TopK]]) with caller-supplied
  * terms that DO exist in the derived corpus, dumps parquet in the
  * `Verify` layout, AND writes `oracle_sql.json` with the SAME term
  * list substituted into the registered t_bm25_topk oracle SQL
  * ([[graft.operators.Round17Queries.bm25OracleSql]]) — so one
  * `tools/oracle_check.py <sfDir> <outDir>` call completes the check
  * mechanically each round (VERDICT r18 #7), no hand-edited SQL.
  * Usage: runMain graft.Bm25Probe <sfDir> <outDir> <term> [term ...]
  */
object Bm25Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Bm25Probe <sfDir> <outDir> <term> [term ...]")
    val terms = args.drop(2).toSeq
    val spark = GraftSession()
    val docs = Tables.documents(spark, args(0)).select(col("doc_id"), col("text"))
    graft.operators.Round17Queries.bm25TopK(docs, terms)
      .write.mode("overwrite").parquet(args(1) + "/t_bm25_topk")
    val sql = graft.operators.Round17Queries.bm25OracleSql(terms)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(args(1), "oracle_sql.json"),
      s"""{"t_bm25_topk": ${Json.quote(sql)}}""".getBytes("UTF-8"))
    spark.stop()
  }
}
