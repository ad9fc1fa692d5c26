package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.{RangeFilter, RuleLabeler}
import graft.pcap.PcapSource
import graft.pipeline.{BytesPipeline, Presets}
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one JVM: set up, time closed-loop operations for a
  * fixed wall budget, check every operation's output, and write a result
  * file for `run.py`. The engine is reached only through its public entry
  * points: `BytesPipeline.runAccounted` (capture workloads) and
  * `SparkEntry.queries` (operator workloads); the traced run additionally
  * calls the flagship's per-layer public functions and registers Spark's
  * public listeners from here.
  *
  * Args are `key=value`: kind=capture|ops, cores, seconds, trace=0|1,
  * work (scratch dir), result (output json), warmups; capture: pcap,
  * split, packets, decodable, in_range, forward; ops: data, keys
  * (comma-separated `key:module:digest`).
  */
object PerfBench {

  // ---- tracing: spans + listener counters, kept in memory -------------

  final class Counters {
    var jobs, tasks, taskFailures, runMs, cpuNs, gcMs, schedDelayMs = 0L
    var spillBytes, shuffleRead, shuffleWrite, bytesWritten, recordsWritten = 0L
    var batches = 0L
    val streamMs = mutable.Map[String, Long]().withDefaultValue(0L)
    var stateRows, stateMemory = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskFailures += o.taskFailures; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; spillBytes += o.spillBytes
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten; batches += o.batches
      o.streamMs.foreach { case (k, v) => streamMs(k) += v }
      stateRows += o.stateRows; stateMemory += o.stateMemory
    }
  }

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = 0L,
                        counters: Counters = new Counters)

  /** Spans of one run; listener events go to the innermost open span.
    * Each span end drains the listener bus first, so late events are
    * never credited to the next span. */
  final class Tracer(spark: SparkSession, val runId: String) {
    val spans = mutable.ArrayBuffer[Span]()
    @volatile private var current: Span = _
    private val open = mutable.Stack[Span]()

    def apply[T](name: String)(body: => T): (T, Span) = {
      val s = Span(spans.size, name, if (open.isEmpty) -1 else open.top.id, System.nanoTime())
      spans += s; open.push(s); current = s
      try (body, s)
      finally {
        Bus.drain(spark)
        s.end = System.nanoTime()
        open.pop()
        current = if (open.isEmpty) null else open.top
        if (current != null) current.counters.add(s.counters)
      }
    }

    private def cur(f: Counters => Unit): Unit = {
      val s = current
      if (s != null) s.counters.synchronized(f(s.counters))
    }

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = cur(_.jobs += 1)
      // Streaming progress reaches the context's bus whichever session
      // (the replays run in cloned sessions) started the query.
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => cur { c =>
          c.batches += 1
          p.progress.durationMs.asScala.foreach { case (k, v) => c.streamMs(k) += v.longValue }
          p.progress.stateOperators.foreach { s =>
            c.streamMs("stateCommit") += s.commitTimeMs
            c.stateRows += s.numRowsTotal
            c.stateMemory += s.memoryUsedBytes
          }
        }
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur { c =>
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.recordsWritten += m.outputMetrics.recordsWritten
          val i = e.taskInfo
          c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        }
      }
    }

    def register(): Unit = spark.sparkContext.addSparkListener(sparkListener)

    def json: String = Json.arr(spans.toSeq.map { s =>
      val c = s.counters
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_failures" -> c.taskFailures, "executor_run_ms" -> c.runMs,
        "executor_cpu_ms" -> c.cpuNs / 1000000, "gc_ms" -> c.gcMs,
        "scheduler_delay_ms" -> c.schedDelayMs, "spill_bytes" -> c.spillBytes,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "bytes_written" -> c.bytesWritten, "records_written" -> c.recordsWritten,
        "stream_batches" -> c.batches, "stream_ms" -> Json.obj(c.streamMs.toSeq.sorted: _*),
        "state_rows" -> c.stateRows, "state_memory_bytes" -> c.stateMemory)
    })
  }

  // ---- minimal JSON writer -----------------------------------------------

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case r: Raw => r.s
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case other => str(other.toString)
    }
    final case class Raw(s: String)
    def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
    def arr(xs: Seq[Any]): String = value(xs)
  }

  // ---- helpers ------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** What the heap retains: the old generation's occupancy after a full
    * collection, and the number of full collections so far. The heap is
    * pre-touched, so VmHWM cannot show this. */
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.endsWith("Old Gen"))
  def oldGenLiveMb(): Double = oldGen.map(_.getCollectionUsage.getUsed / 1048576.0).getOrElse(0.0)
  def fullGcs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .filter(g => oldGen.exists(p => g.getMemoryPoolNames.contains(p.getName))).map(_.getCollectionCount).sum

  def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One operation's outcome: wall seconds, or the reason it failed. */
  final case class Outcome(name: String, seconds: Double, error: Option[String])

  def attempt(name: String)(body: => Option[String]): Outcome = {
    val t0 = System.nanoTime()
    val err =
      try body
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val dt = secs(t0)
    err.foreach(m => System.err.println(s"[perfbench] $name FAILED: $m"))
    Outcome(name, dt, err)
  }

  // ---- workloads -----------------------------------------------------------

  /** A workload: one timed operation, plus the traced per-layer pass. */
  trait Workload {
    def operation(spark: SparkSession): Outcome
    /** Ladder/key spans and per-layer metrics for the traced run. */
    def traced(spark: SparkSession, tracer: Tracer, seconds: Double): Seq[(String, Double)]
    def report(spark: SparkSession): Seq[(String, Any)] = Nil
  }

  final class Capture(a: Map[String, String], work: String) extends Workload {
    private val pcap = a("pcap")
    private val out = s"$work/capture_out"
    private val expect = Seq("packets", "decodable", "in_range", "forward").map(k => k -> a(k).toLong).toMap
    val cfg: BytesPipeline.Config =
      Presets.cicids2017Thursday.copy(widen = true, splittable = true, targetSplitBytes = a("split").toLong)

    def operation(spark: SparkSession): Outcome = attempt("runAccounted") {
      val r = BytesPipeline.runAccounted(spark, Seq(pcap), out, cfg)
      if (r.ingestedPackets != expect("decodable"))
        Some(s"ingestedPackets ${r.ingestedPackets} != expected ${expect("decodable")}")
      else None
    }

    override def report(spark: SparkSession): Seq[(String, Any)] = {
      val (data, adv) = BytesPipeline.latest(spark, out).getOrElse(("", None))
      Seq("snapshot_data" -> data, "snapshot_adv" -> adv.getOrElse(""),
        "out_bytes" -> (dirBytes(data) + adv.map(dirBytes).getOrElse(0L)))
    }

    private def counted(df: DataFrame, extra: Column*): Map[String, Long] = {
      val obs = Observation()
      noop(df.observe(obs, count(lit(1)).as("rows"), extra: _*))
      obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    }

    /** The cumulative ladder over one capture, each step ending in a noop
      * sink, the last being the real dual parquet sink. */
    def traced(spark: SparkSession, tracer: Tracer, seconds: Double): Seq[(String, Double)] = {
      import spark.implicits._
      val ranges = cfg.rangesToExtract.map { case (lo, hi) => (lit(lo), lit(hi)) }
      def packets = PcapSource.packetsSplittable(spark, Seq(pcap), cfg.targetSplitBytes).toDF()
      def inRange = packets.filter(RangeFilter.inRanges(col("timestamp"), ranges))
      val steps: Seq[(String, () => Map[String, Long])] = Seq(
        "pcap.scan" -> (() => {
          val splits = PcapSource.planSplits(spark, Seq(pcap), cfg.targetSplitBytes)
          counted(spark.createDataset(splits).repartition(splits.size)
            .flatMap(PcapSource.readSplit(_)).toDF())
        }),
        "pcap.decode" -> (() => counted(packets)),
        "ops.range_filter" -> (() => counted(inRange)),
        "ops.rule_labeler" -> (() => counted(
          inRange.withColumn("label",
            RuleLabeler.labelCol(col("timestamp"), col("src_ip"), col("dst_ip"), cfg.rules)),
          count(when(BytesPipeline.forwardMask(cfg.rules), 1)).as("forward"))),
        "functions.packet_vector" -> (() => counted(BytesPipeline.featuresDf(packets, cfg))),
        "pipeline.widen" -> (() => counted(BytesPipeline.widen(BytesPipeline.featuresDf(packets, cfg), cfg.width))),
        "pipeline.sink" -> (() => {
          val r = BytesPipeline.runAccounted(spark, Seq(pcap), s"$work/ladder_out", cfg)
          Map("rows" -> r.ingestedPackets)
        }))
      val walls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
      val counts = mutable.Map[String, Map[String, Long]]()
      val sinkCounters = mutable.ArrayBuffer[Counters]()
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 2 || (rep < 5 && secs(t0) < seconds)) {
        tracer(s"ladder#$rep") {
          steps.foreach { case (name, run) =>
            val (c, span) = tracer(name)(run())
            walls.getOrElseUpdate(name, mutable.ArrayBuffer()) += (span.end - span.start) / 1e9
            counts(name) = c
            if (name == "pipeline.sink") sinkCounters += span.counters
          }
        }
        rep += 1
      }
      val wall = steps.map { case (n, _) => n -> median(walls(n).toSeq) }
      val self = wall.zip((None +: wall.map(w => Some(w._2))).init).map {
        case ((n, w), prev) => n -> (w - prev.getOrElse(0.0))
      }
      def sinkMedian(f: Counters => Long) = median(sinkCounters.toSeq.map(c => f(c).toDouble))
      val mismatches = Seq(
        ("pcap.scan", "rows", "packets"), ("pcap.decode", "rows", "decodable"),
        ("ops.range_filter", "rows", "in_range"), ("ops.rule_labeler", "forward", "forward"),
        ("pipeline.sink", "rows", "decodable"))
        .filter { case (s, k, e) => counts(s)(k) != expect(e) }
      if (mismatches.nonEmpty) throw new IllegalStateException(s"ladder counts differ: $mismatches")
      self.map { case (n, s) => s"$n.self_s" -> s } ++ Seq(
        "pcap.scan.records" -> counts("pcap.scan")("rows").toDouble,
        "pcap.decode.packets" -> counts("pcap.decode")("rows").toDouble,
        "pcap.decode.kept_ratio" -> counts("pcap.decode")("rows").toDouble / counts("pcap.scan")("rows"),
        "ops.range_filter.rows" -> counts("ops.range_filter")("rows").toDouble,
        "ops.rule_labeler.forward_rows" -> counts("ops.rule_labeler")("forward").toDouble,
        "pipeline.sink.bytes_written" -> sinkMedian(_.bytesWritten),
        "pipeline.sink.records_written" -> sinkMedian(_.recordsWritten),
        "pipeline.sink.jobs" -> sinkMedian(_.jobs),
        "capture.ladder_wall_s" -> wall.last._2)
    }
  }

  final case class Key(name: String, module: String, digest: String)

  final class Ops(a: Map[String, String]) extends Workload {
    private val data = a("data")
    val keys: Seq[Key] = a("keys").split(",").toSeq.map(_.split(":", 3) match {
      case Array(n, m, d) => Key(n, m, d)
      case bad => throw new IllegalArgumentException(s"bad key spec ${bad.mkString(":")}")
    })
    private val queries = graft.SparkEntry.queries
    private val observed = mutable.Map[String, String]()
    private val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()

    /** Row count + an order-insensitive sum of 32-bit row hashes over all
      * columns, observed on the same noop write that materializes the
      * result. */
    def runKey(spark: SparkSession, k: Key): Outcome = attempt(k.name) {
      val t0 = System.nanoTime()
      val df = queries(k.name)(spark, data)
      val obs = Observation()
      noop(df.observe(obs, count(lit(1)).as("n"),
        sum(pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*), lit(4294967296L))).as("h")))
      val m = obs.get
      val got = s"${m("n")}:${Option(m("h")).getOrElse(0L)}"
      observed(k.name) = got
      times.getOrElseUpdate(k.name, mutable.ArrayBuffer()) += secs(t0)
      if (k.digest != "*" && got != k.digest) Some(s"digest $got != expected ${k.digest}") else None
    }

    def operation(spark: SparkSession): Outcome = {
      val t0 = System.nanoTime()
      val outs = keys.map(k => runKey(spark, k))
      // drop checkpoint/persist blocks a key leaves behind, as graft.Bench does
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val err = outs.flatMap(o => o.error.map(e => s"${o.name}: $e"))
      Outcome("pass", secs(t0), if (err.isEmpty) None else Some(err.mkString("; ")))
    }

    /** Observed digests; with `dump=DIR`, also each key's result as parquet
      * plus its oracle SQL, for the DuckDB cross-check in make_digests.py. */
    override def report(spark: SparkSession): Seq[(String, Any)] = {
      a.get("dump").foreach { dir =>
        keys.foreach(k => queries(k.name)(spark, data).write.mode("overwrite").parquet(s"$dir/${k.name}"))
        val sql = graft.SparkEntry.oracleSql
        Files.write(Paths.get(dir, "oracle_sql.json"),
          Json.obj(keys.flatMap(k => sql.get(k.name).map(k.name -> _)): _*).s.getBytes("UTF-8"))
      }
      Seq("digests" -> Json.obj(observed.toSeq.sorted: _*),
        "key_times" -> Json.obj(times.toSeq.sortBy(_._1).map { case (k, ts) => k -> ts.toSeq }: _*))
    }

    def traced(spark: SparkSession, tracer: Tracer, seconds: Double): Seq[(String, Double)] = {
      val perKey = mutable.Map[String, mutable.ArrayBuffer[Double]]()
      val byModule = mutable.Map[String, Counters]()
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 2 || secs(t0) < seconds) {
        tracer(s"pass#$rep") {
          keys.foreach { k =>
            val (o, span) = tracer(k.name)(runKey(spark, k))
            if (o.error.nonEmpty) throw new IllegalStateException(s"${k.name}: ${o.error.get}")
            perKey.getOrElseUpdate(k.name, mutable.ArrayBuffer()) += o.seconds
            byModule.getOrElseUpdate(k.module, new Counters).add(span.counters)
          }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
        rep += 1
      }
      keys.map(k => s"${k.name}.s" -> median(perKey(k.name).toSeq)) ++
        keys.map(_.module).distinct.flatMap { m =>
          val c = byModule(m)
          val s = keys.filter(_.module == m).map(k => median(perKey(k.name).toSeq)).sum
          Seq(s"$m.s" -> s, s"$m.jobs" -> c.jobs.toDouble / rep, s"$m.tasks" -> c.tasks.toDouble / rep,
            s"$m.shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite).toDouble / rep,
            s"$m.spill_bytes" -> c.spillBytes.toDouble / rep, s"$m.gc_ms" -> c.gcMs.toDouble / rep)
        }
    }
  }

  // ---- main ----------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val warmups = a("warmups").toInt
    val workload: Workload = a("kind") match {
      case "capture" => new Capture(a, work)
      case "ops" => new Ops(a)
      case k => throw new IllegalArgumentException(s"unknown kind $k")
    }
    val outcomes = mutable.ArrayBuffer[Outcome]()

    // Set-up: from JVM start to the first timed operation. It covers JVM
    // boot, class loading, the session build and the untimed warm-up
    // operations, the cold JIT/codegen pass among them.
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(cores, s"$work/local")
    for (_ <- 0 until warmups) outcomes += workload.operation(spark)
    val setupS = secs(t0)
    val fullGcsBefore = fullGcs()
    var oldGenLive = 0.0

    val result = mutable.ArrayBuffer[(String, Any)]()
    val runTimes = mutable.ArrayBuffer[Double]()
    def timedLoop(budget: Double): Seq[Double] = {
      val ts = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || secs(t0) < budget) {
        val o = workload.operation(spark)
        outcomes += o
        if (o.error.isEmpty) ts += o.seconds
        if (fullGcs() > fullGcsBefore) oldGenLive = oldGenLive max oldGenLiveMb()
        n += 1
      }
      ts.toSeq
    }
    if (!trace) {
      runTimes ++= timedLoop(seconds)
    } else {
      // untraced then traced halves of the budget give the tracing overhead
      val untraced = timedLoop(seconds / 4)
      val tracer = new Tracer(spark, a.getOrElse("run_id", "run"))
      tracer.register()
      val (tracedTimes, total) = tracer("timed")(timedLoop(seconds / 4))
      runTimes ++= tracedTimes
      val layers = try tracer("layers")(workload.traced(spark, tracer, seconds / 2))._1
        catch { case e: Throwable =>
          outcomes += Outcome("traced", 0, Some(e.toString)); Nil }
      val c = total.counters
      val n = tracedTimes.size.max(1).toDouble
      result += "per_layer" -> Json.obj((layers ++ Seq(
        "spark.tasks" -> c.tasks / n, "spark.task_failures" -> c.taskFailures / n,
        "spark.executor_run_ms" -> c.runMs / n, "spark.executor_cpu_ms" -> c.cpuNs / 1e6 / n,
        "spark.gc_ms" -> c.gcMs / n, "spark.scheduler_delay_ms" -> c.schedDelayMs / n,
        "spark.spill_bytes" -> c.spillBytes / n, "spark.shuffle_read_bytes" -> c.shuffleRead / n,
        "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
        "streaming.batches" -> c.batches / n,
        "streaming.state_rows" -> c.stateRows / n,
        "streaming.state_memory_bytes" -> c.stateMemory / n) ++
        Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch", "stateCommit").map(k =>
          s"streaming.${if (k == "stateCommit") "state_commit" else k}_ms" -> c.streamMs(k) / n) ++ Seq(
        "trace.untraced_run_s" -> median(untraced), "trace.traced_run_s" -> median(tracedTimes),
        "trace.overhead_ratio" -> median(tracedTimes) / median(untraced))): _*)
      result += "trace_file" -> a("trace_out")
      Files.write(Paths.get(a("trace_out")), tracer.json.getBytes("UTF-8"))
    }
    result += "peak_rss_mb" -> peakRssMb()
    System.gc() // untimed; also covers a loop that ran no full collection
    result += "old_gen_live_mb" -> (oldGenLive max oldGenLiveMb())
    result ++= workload.report(spark)
    spark.stop()

    result ++= Seq("setup_s" -> setupS, "run_times" -> runTimes.toSeq,
      "attempted" -> outcomes.size, "failed" -> outcomes.count(_.error.nonEmpty),
      "errors" -> outcomes.flatMap(o => o.error.map(e => s"${o.name}: $e")).take(20).toSeq)
    Files.write(Paths.get(a("result")), Json.obj(result.toSeq: _*).s.getBytes("UTF-8"))
  }
}
