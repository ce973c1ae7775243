package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store backend selection for the stateful streaming operators
  * (watermarked aggregations/joins, dedupWithinWatermark, the
  * (flat)MapGroupsWithState / transformWithState pipelines).
  *
  * Why this exists: Spark's default state store
  * (`HDFSBackedStateStoreProvider`) keeps every operator's state for the
  * current and last version as deserialized objects ON THE EXECUTOR HEAP.
  * That is the right default at spec/test scale, but it is the wrong shape
  * for the engine's actual target: a stream–stream interval join or a
  * cross-batch dedup over a 100 TB corpus carries state far beyond heap
  * (the reference's data plane is unbounded — reference/app/app.py:393-526
  * relays an unbounded log, and our incremental dedup keys on every sha
  * ever seen). The production backend for that regime is RocksDB: state
  * lives off-heap/on-disk with a block-cache, version uploads are
  * incremental (changelog checkpointing ships per-batch deltas instead of
  * re-snapshotting the full store), and memory is bounded per executor
  * instead of growing with key cardinality.
  *
  * The knob is a session conf consumed when a streaming query STARTS, so
  * it cannot be a per-query option on our operator surface; callers opt a
  * session in before `start()`. `StreamProbe <sfDir> <pipeline|join>
  * [runs] rocksdb` measures the backend's throughput cost against the
  * default (sf0.1 state fits heap, so the default stays the faster
  * in-memory provider there; the RocksDB path is correctness-pinned by
  * StateBackendSpec — equal results, rocksdb metrics present).
  *
  * MEASURED crossover (BASELINE.md round-17 state-crossover section;
  * `StreamProbe state`, 16 × 500k fresh keys, 8 partitions): at
  * heap-comfortable sizes RocksDB costs a flat ~1.25×/batch; heap's
  * per-batch cost starts GROWING at ~5M resident keys (~625k/partition
  * — full-map re-snapshot per version) while RocksDB stays size-flat
  * through 8M, with the slope-extended wall-clock cross at ~1.5-2M
  * keys/partition and heap MEMORY (two deserialized versions) the
  * binding constraint before that. Rule of thumb: heap below ~500k
  * keys/partition, RocksDB beyond; size shuffle partitions so
  * per-partition state stays in the store's comfort zone either way.
  */
object StateBackend {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val DefaultProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Route all stateful operators of queries subsequently started on this
    * session to RocksDB. Changelog checkpointing is on: per-batch commit
    * cost becomes O(delta), not O(total state) — the difference between a
    * bounded and an ever-growing trigger latency once state outgrows the
    * snapshot-upload budget. Bounded memory caps the aggregate RocksDB
    * block-cache/memtable footprint per executor so state growth degrades
    * to disk, never to an executor OOM.
    */
  def useRocksDB(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, RocksDBProvider)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
  }

  /** Restore the heap-backed default (test/bench scale). */
  def useDefault(spark: SparkSession): Unit =
    spark.conf.set(ProviderKey, DefaultProvider)

  /** The provider currently configured on the session. */
  def current(spark: SparkSession): String =
    spark.conf.get(ProviderKey, DefaultProvider)
}
