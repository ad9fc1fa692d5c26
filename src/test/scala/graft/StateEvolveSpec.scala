package graft

import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The invariant of st_state_evolve the DuckDB gate can't express: the
  * Avro state encoding is LOAD-BEARING. Under the default UnsafeRow
  * encoding the very same v1-run → crash → v2-restart sequence must be
  * REFUSED by the state store's schema-compatibility check — if Spark
  * ever started silently accepting an evolved value schema on
  * bit-positional state, the gated key would keep passing while the
  * refusal contract a deployment relies on had changed underneath it.
  */
class StateEvolveSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("v1->v2 state schema change is refused under UnsafeRow encoding") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val landing = queries.StreamingReplayQ.sessionLanding(spark, dir).path
      val sink = Files.createTempDirectory("evospec_sink").toString
      val ckpt = Files.createTempDirectory("evospec_ckpt").toString
      val spark2 = spark; import spark2.implicits._
      def fs() = {
        val schema = spark.read.parquet(landing).schema
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(landing).as[streaming.Event]
      }
      val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = streaming.StreamingOps.evoTotalsV1(fs())
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[streaming.EvoOut], id: Long) =>
          b.write.mode("append").parquet(sink)
          if (id == 1 && !tripped.getAndSet(true))
            throw new RuntimeException("graft-injected-crash")
        }.trigger(Trigger.AvailableNow()).start()
      intercept[Throwable] { q1.awaitTermination() }
      assert(tripped.get(), "v1 run did not reach batch 1")

      val q2 = streaming.StreamingOps.evoTotalsV2(fs())
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[streaming.EvoOut], _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }.trigger(Trigger.AvailableNow()).start()
      val refusal = intercept[Throwable] { q2.awaitTermination() }
      val chain = Iterator.iterate(refusal)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.getClass.getName.contains("StateStoreValueSchemaNotCompatible")),
        s"expected a value-schema refusal, got: ${chain.last}")
      Seq(sink, ckpt).foreach(d => { def del(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(del); f.delete(); () }; del(new java.io.File(d)) })
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
