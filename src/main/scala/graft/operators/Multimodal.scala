package graft.operators

import graft.Tables
import graft.functions.TextFunctions.sha256Hex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (SURVEY.md §2.3 R21): opaque `BINARY` payloads with a
  * typed metadata struct, plus the feature-extraction plumbing a training
  * pipeline needs.
  *
  * Real decoders (image/audio codecs) are not available in this container,
  * so `decodeStub` is a clearly-marked deterministic fake. What IS real and
  * tested: the schema contract (binary payload + STRUCT metadata), the
  * content-addressing, the per-partition batched UDF shape (mapPartitions
  * with an iterator — the Scala twin of mapInPandas: one batch in, one
  * batch out, no per-row driver round-trips), and the partitioning story
  * (shard by content-hash prefix so 100 TB of blobs spread evenly and
  * re-reads of the same content co-locate).
  */
object Multimodal {

  /** Canonical multimodal record schema. */
  val schema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("sha", StringType, nullable = true))), nullable = true)))

  /** Lift the documents table into multimodal shape: the text payload as an
    * opaque binary blob with typed metadata — the exact shape an
    * image/audio/video column takes, with text standing in for the bytes.
    */
  def assets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("asset_id"),
      lit("text").as("modality"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        lit("text/plain").as("mime"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        sha256Hex(col("text")).as("sha")).as("meta"))

  /** Feature-extraction output schema (what a real decoder would emit). */
  val featureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("feature", ArrayType(DoubleType), nullable = true)))

  /** STUB — deterministic fake decode/feature-extract. A real pipeline
    * swaps the body for an image/audio decoder; the Spark plumbing around
    * it (partition-batched iterator, schema, no driver involvement) is the
    * part under test. Emits an 8-dim "feature": byte histogram moments.
    */
  def decodeStub(s: SparkSession, in: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    in.select(col("asset_id"), col("modality"), col("payload"))
      .mapPartitions { rows =>
        // one batch per partition: the mapInPandas-equivalent shape
        rows.map { r =>
          val id = r.getLong(0)
          val mod = r.getString(1)
          val bytes = Option(r.get(2)).map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.emptyByteArray)
          val n = bytes.length.toLong
          val feature: Array[Double] =
            if (n == 0) Array.fill(8)(0.0)
            else {
              val sums = new Array[Double](8)
              var i = 0
              while (i < bytes.length) { sums(i % 8) += (bytes(i) & 0xff) / 255.0; i += 1 }
              sums.map(x => math.rint(x / n * 10000) / 10000)
            }
          Row(id, mod, n, feature)
        }
      }(enc)
  }
}

/** Registered multimodal queries. */
object MultimodalQueries {

  val queries: Seq[QueryDef] = Seq(
    // R21 — metadata projection over binary payloads: content address,
    // byte length, shard key (hash prefix → even blob distribution at scale).
    QueryDef("m_binary_meta", (s, d) =>
      Multimodal.assets(s, d)
        .select(
          col("asset_id"),
          col("modality"),
          col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.sha").as("sha"),
          substring(col("meta.sha"), 1, 2).as("shard"))
        .orderBy("asset_id"),
      """SELECT doc_id AS asset_id, 'text' AS modality, 'text/plain' AS mime,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
                sha256(text) AS sha, substring(sha256(text), 1, 2) AS shard
         FROM documents ORDER BY asset_id"""),

    // R21 — grouped storage accounting by shard key: the partition-balance
    // readout (even shards ⇒ even executors at 100 TB).
    QueryDef("m_shard_balance", (s, d) =>
      Multimodal.assets(s, d)
        .groupBy(substring(col("meta.sha"), 1, 1).as("shard"))
        .agg(
          count(lit(1)).as("n_assets"),
          sum(col("meta.n_bytes")).as("total_bytes"))
        .orderBy("shard"),
      """SELECT substring(sha256(text), 1, 1) AS shard,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes
         FROM documents GROUP BY 1 ORDER BY shard"""),

    // R21 — stubbed decode/feature-extract through the partition-batched
    // UDF path; the deterministic fake (byte-histogram moments) is
    // replicated in the oracle SQL, so even the mapPartitions path is
    // DuckDB-verified; semantics also unit-tested in MultimodalSpec.
    QueryDef("m_decode_features", (s, d) =>
      Multimodal.decodeStub(s, Multimodal.assets(s, d))
        .select(col("asset_id"), col("modality"), col("n_bytes"),
          floorRound(element_at(col("feature"), 1), 4).as("f0"),
          floorRound(element_at(col("feature"), 8), 4).as("f7"))
        .orderBy("asset_id"),
      // byte-histogram moments of the ASCII payload, slot = byte index % 8 —
      // the SQL twin of Multimodal.decodeStub's per-partition loop
      """WITH b AS (
           SELECT doc_id, length(text) AS n, t.i % 8 AS slot,
                  ascii(substring(text, CAST(t.i + 1 AS INT), 1)) / 255.0 AS v
           FROM documents, unnest(generate_series(0, length(text) - 1)) AS t(i)),
         s AS (SELECT doc_id, max(n) AS n, slot, sum(v) AS sv FROM b GROUP BY doc_id, slot)
         SELECT doc_id AS asset_id, 'text' AS modality, CAST(max(n) AS BIGINT) AS n_bytes,
                floor((round(max(CASE WHEN slot = 0 THEN sv END) / max(n) * 10000) / 10000) * 10000 + 0.5) / 10000 AS f0,
                floor((round(max(CASE WHEN slot = 7 THEN sv END) / max(n) * 10000) / 10000) * 10000 + 0.5) / 10000 AS f7
         FROM s GROUP BY doc_id ORDER BY asset_id""")
  )
}
