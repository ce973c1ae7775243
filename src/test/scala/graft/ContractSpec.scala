package graft

/** Driver-contract invariants: every oracle key has a query, names are
  * well-formed, and the flagship entry returns rows.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every queries entry has an oracle — the ALL-oracled claim, pinned") {
    // the driver records a weaker rows-only check for un-oracled queries;
    // this repo's contract since round 4 is that EVERY registered query
    // carries a DuckDB twin, so a new query landing without one fails
    // here by name instead of silently degrading the correctness gate
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"query without oracle: $unoracled")
  }

  test("query inventory is substantial and uniquely named") {
    assert(SparkEntry.queries.size >= 40)
    assert(SparkEntry.oracleSql.size >= 30)
  }

  test("a query name registered twice fails the registry by name") {
    val q = SparkEntry.registry.head
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.unique(SparkEntry.registry :+ q.copy(oracleSql = "SELECT 1"))
    }
    assert(ex.getMessage.contains(q.name))
    assert(SparkEntry.registry.size === SparkEntry.queries.size)
  }

  test("Spark's own AQE coalesce floor is the 1 MB the bench session relies on") {
    // GraftSession leaves spark.sql.adaptive.coalescePartitions
    // .minPartitionSize unset and relies on Spark's default being the 1m
    // floor the r22 A/B chose; a Spark whose default moves would change
    // every bench plan, so it fails here first
    import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    val floor = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    assert(byteStringAsBytes(floor) === byteStringAsBytes("1m"))
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("S10: an unrecognized events.ts encoding fails at the loader, not downstream") {
    // the driver has already shipped two ts encodings (INT64 nanos,
    // TIMESTAMP_NTZ micros); a third must die at Tables.events with a
    // descriptive error instead of flowing wrong-typed into every query
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-enc").toString
    try {
      spark.range(3)
        .select(col("id").as("event_id"), col("id").cast("double").as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val ex = intercept[IllegalStateException] { Tables.events(spark, dir) }
      assert(ex.getMessage.contains("unrecognized parquet encoding"))
    } finally {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("S5: datetime ladder parses the dateutil-style forms, naive = UTC") {
    import graft.operators.Replay.parseDatetime
    val expected = 1705732200000L // 2024-01-20T06:30:00Z
    assert(parseDatetime("2024-01-20T06:30:00").contains(expected))
    assert(parseDatetime("2024-01-20 06:30:00").contains(expected))
    assert(parseDatetime("2024-01-20 06:30").contains(expected))
    assert(parseDatetime("2024-01-20T08:30:00+02:00").contains(expected))
    assert(parseDatetime("2024-01-20 08:30:00+02:00").contains(expected))
    assert(parseDatetime("2024-01-20T06:30:00Z").contains(expected))
    assert(parseDatetime("Sat, 20 Jan 2024 06:30:00 GMT").contains(expected))
    assert(parseDatetime("2024-01-20")
      .contains(1705708800000L)) // midnight UTC
  }

  test("S5/S6: unparseable stream_from_datetime is protocol error 1002, not empty result") {
    import graft.operators.Replay
    val bad = Replay.offsetSpec(fromDatetime = Some("not a datetime"))
    assert(bad.isLeft && bad.swap.exists(_.startsWith("1002")))
    // a valid one still passes through the boundary
    assert(Replay.offsetSpec(fromDatetime = Some("2024-01-20 06:30:00")).isRight)
    // direct seek with a bad string fails loudly (no silent null filter)
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val ex = intercept[IllegalArgumentException] {
      Replay.seek(e, Replay.FromDatetime("garbage"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.unix_millis(
          org.apache.spark.sql.functions.col("ts")))
    }
    assert(ex.getMessage.startsWith("1002"))
  }
}
