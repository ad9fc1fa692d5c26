package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Spark 4 state data source reader under the oracle gate: after a real
  * keyed-state streaming run, `spark.read.format("statestore")` exposes
  * the checkpoint's state store as a DataFrame and
  * `format("state-metadata")` its operator catalog — the standard ops
  * surface for inspecting (and debugging) live streaming state without
  * stopping the job. Both reads are pinned to exact oracles:
  *
  *  - the dedup operator's state must hold EXACTLY one entry per
  *    distinct event_id (a lost entry means a future duplicate passes;
  *    a phantom entry means state leaked), and each entry's
  *    `expiresAtMicros` must equal event-time + the watermark delay to
  *    the microsecond — so the state's *values*, not just its keys, are
  *    hash-checked against `epoch_us(ts) + delay` in DuckDB;
  *  - the metadata row must name the operator, its store, the partition
  *    count (= spark.sql.shuffle.partitions, pinned 32 by the session
  *    contract), and the exact replayed batch range 0..2 (the landing is
  *    always 3 files — see [[StreamingReplayQ]]'s landing fixture).
  *
  * The checkpoint is a cross-session fixture (content-fingerprinted on
  * the events source, unique-scratch build, atomic publish — the
  * [[Fixtures]] discipline): the operator under test here is the state
  * READER, so the stream run that produces the checkpoint is hoisted
  * the same way pipe_snapshot_read hoists its two-run publish fixture.
  *
  * 100 TB reading: the state source lists one state file set per shuffle
  * partition and reads them in parallel — state inspection scales with
  * the store's own sharding, never through the driver. The HDFS-backed
  * provider (session default) is what wrote the checkpoint, so the read
  * needs no provider override.
  */
object StateReadQ {

  /** Checkpoint fixture: one completed dedupEvents replay over the shared
    * 3-file events landing ([[StreamingReplayQ.eventsLanding]] shape — two
    * repartitioned parts plus the exact-duplicates file), sink discarded,
    * checkpoint published atomically. maxFilesPerTrigger=1 makes the
    * committed range exactly batches 0..2. */
  private[graft] def ckptFixture(spark: SparkSession, dir: String): String = {
    val dirTag = dir.replaceAll("[^A-Za-z0-9]", "_")
    // The store's shard count is fixed at checkpoint creation from the
    // creating session's spark.sql.shuffle.partitions — key the fixture
    // on it, so a session run under a different parallelism rebuilds
    // instead of reading a checkpoint whose sharding contradicts its
    // own conf (st_state_meta pins that match).
    val nShards = spark.sessionState.conf.numShufflePartitions
    val path = Fixtures.fingerprintedPath(
      s"${sys.props("java.io.tmpdir")}/graft_state_ckpt_p${nShards}_${sys.props("user.name")}$dirTag",
      Seq(s"$dir/events.parquet"))
    if (!Files.exists(java.nio.file.Paths.get(path))) {
      val landing = StreamingReplayQ.eventsLanding(spark, dir)
      val build = Files.createTempDirectory("graft_state_ckpt_build")
      val sink = Files.createTempDirectory("graft_state_ckpt_sink")
      val q = graft.streaming.StreamingOps.dedupEvents(
          StreamingReplayQ.fileStream(spark, landing), watermark = "3650 days")
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", build.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Fixtures.deleteRecursively(sink.toFile)
      Fixtures.publishDir(build, path)
    }
    path
  }

  private val DelayMicros = 3650L * 24 * 3600 * 1000000 // the fixture's watermark

  /** Keyed state contents via `format("statestore")`: one row per live
    * state entry, values pinned to event-time + delay. */
  val stStateRead: Q = Q(
    "st_state_read",
    (spark, dir) => {
      val ckpt = ckptFixture(spark, dir)
      spark.read.format("statestore").option("path", ckpt).load()
        .select(col("key.event_id").as("event_id"),
          col("value.expiresAtMicros").as("expires_us"))
        .orderBy("event_id")
    },
    Some(s"""SELECT event_id, epoch_us(ts) + $DelayMicros AS expires_us
            |FROM events ORDER BY event_id""".stripMargin))

  /** Operator catalog via `format("state-metadata")`: the checkpoint's
    * one stateful operator, store name, shard count, committed batches.
    * The shard count itself is the creating session's
    * spark.sql.shuffle.partitions (environment-scoped, = SPARK_GRAFT_CPUS
    * under the driver), so the oracle pins the INVARIANT — the store's
    * sharding matches the reading session's conf — not a literal. */
  val stStateMeta: Q = Q(
    "st_state_meta",
    (spark, dir) => {
      val ckpt = ckptFixture(spark, dir)
      val nShards = spark.sessionState.conf.numShufflePartitions
      spark.read.format("state-metadata").load(ckpt)
        .select(col("operatorId").as("operator_id"),
          col("operatorName").as("operator_name"),
          col("stateStoreName").as("store_name"),
          (col("numPartitions") === nShards).as("partitions_match_conf"),
          col("minBatchId").as("min_batch"),
          col("maxBatchId").as("max_batch"))
        .orderBy("operator_id")
    },
    Some("""SELECT CAST(0 AS BIGINT) AS operator_id,
           | 'dedupeWithinWatermark' AS operator_name,
           | 'default' AS store_name, TRUE AS partitions_match_conf,
           | CAST(0 AS BIGINT) AS min_batch, CAST(2 AS BIGINT) AS max_batch
           |ORDER BY operator_id""".stripMargin))

  val all: Seq[Q] = Seq(stStateRead, stStateMeta)
}
