package graft

import graft.queries.Fixtures
import graft.queries.StreamingReplayQ._
import graft.streaming.Event
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The shared scaffolding behind the st_* replay keys
  * (graft.queries.StreamingReplayQ): the replay runner cleans up after a
  * failed run, and the landing reaper deletes exactly the dirs of retired
  * landing kinds.
  */
class ReplayScaffoldSpec extends SparkSpec {

  private val T0 = 1700000000000L

  /** A two-slice events landing, one event per slice (event_id = slice). */
  private def tinyLanding(): Landing = {
    val s = spark; import s.implicits._
    val build = Files.createTempDirectory("graft_scaffold_landing")
    (0 until 2).foreach { k =>
      writeSlice(build, k,
        Seq(Event(k.toLong, new java.sql.Timestamp(T0 + k * 60000L), 1L, "t", 1.0)).toDF())
    }
    Landing(build.toString, eventLandingSchema)
  }

  private def gone(s: Scratch): Boolean =
    !new File(s.sink).exists() && !new File(s.ckpt).exists()

  test("a body that fails after its stream ran deletes the scratch pair and rethrows") {
    val landing = tinyLanding()
    try {
      var scratch: Option[Scratch] = None
      val original = new IllegalStateException("body failed after the stream drained")
      val thrown = intercept[IllegalStateException] {
        replay("scaffold_body", "event_id") { s =>
          scratch = Some(s)
          appendParquet(fileStream(spark, landing), s)
          assert(new File(s.sink).list().exists(_.endsWith(".parquet")),
            "the stream committed nothing before the body failed")
          throw original
        }
      }
      assert(thrown eq original, s"caller saw $thrown instead of the body's own failure")
      assert(scratch.exists(gone), s"scratch dirs left behind: $scratch")
    } finally Fixtures.deleteRecursively(new File(landing.path))
  }

  test("a stream that fails mid-replay deletes the scratch pair and surfaces its failure") {
    val landing = tinyLanding()
    try {
      var scratch: Option[Scratch] = None
      // batch 0 (event 0) commits, batch 1 (event 1) throws inside the stream
      val failOnSecond = udf { (id: Long) =>
        if (id == 1L) throw new RuntimeException("graft-scaffold-stream-failure") else id
      }
      val thrown = intercept[Exception] {
        replay("scaffold_stream", "event_id") { s =>
          scratch = Some(s)
          appendParquet(fileStream(spark, landing)
            .withColumn("event_id", failOnSecond(col("event_id"))), s)
          spark.read.parquet(s.sink)
        }
      }
      val chain = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => Option(t.getMessage).exists(_.contains("graft-scaffold-stream-failure"))),
        s"the stream's failure did not reach the caller: ${chain.map(_.toString)}")
      assert(scratch.exists(gone), s"scratch dirs left behind: $scratch")
    } finally Fixtures.deleteRecursively(new File(landing.path))
  }

  test("landing access reaps retired kinds older than 24 h and nothing else") {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val tag = s"${sys.props("user.name")}_scaffold_spec_0123456789abcdef"
    val dayAgo = System.currentTimeMillis() - 25L * 3600 * 1000
    def dir(name: String, mtime: Long): File = {
      val f = new File(tmp, name)
      assert(!f.exists(), s"$f already exists")
      assert(f.mkdirs())
      assert(new File(f, "slice-00.parquet").createNewFile())
      assert(f.setLastModified(mtime))
      f
    }
    val retiredOld = dir(s"graft_stream_join2_l_v2_$tag", dayAgo)
    // retired kind that extends a live kind's name (stream_sessions*)
    val retiredExtension = dir(s"graft_stream_sessions_t4_v2_$tag", dayAgo)
    val retiredYoung = dir(s"graft_stream_join2_r_v2_$tag", System.currentTimeMillis())
    val live = LiveKinds.toSeq.sorted.map(kind => dir(s"graft_${kind}_v2_$tag", dayAgo))
    // StreamThroughput's watch/out dirs: graft_stream_*, but no _v2_ infix
    val throughput = Seq(dir("graft_stream_watch_902113_f3", dayAgo),
      dir("graft_stream_out_902113", dayAgo))
    val all = Seq(retiredOld, retiredExtension, retiredYoung) ++ live ++ throughput
    try {
      fixturePath("stream_landing", tmp.toString) // first landing access
      assert(!retiredOld.exists(), "retired kind older than 24 h survived the reap")
      assert(!retiredExtension.exists(), "retired stream_sessions_t4 survived the reap")
      assert(retiredYoung.exists(), "retired kind younger than 24 h was reaped")
      live.foreach(f => assert(f.exists(), s"live landing $f was reaped"))
      throughput.foreach(f => assert(f.exists(), s"non-landing dir $f was reaped"))
    } finally all.foreach(Fixtures.deleteRecursively)
  }

  test("an unregistered landing kind is refused") {
    intercept[IllegalArgumentException] {
      fixturePath("stream_unregistered", sys.props("java.io.tmpdir"))
    }
  }
}
