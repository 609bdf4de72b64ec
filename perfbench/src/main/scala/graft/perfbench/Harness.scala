package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.{ManagedCache, SparkEngine}
import graft.operators.LakeTable

/** Closed-loop driver for one benchmark run: one client thread sends the
  * next op only after the previous one has completed.
  *
  * {{{
  *   Harness <workDir> <dataDir> <opsFile> <seconds> <trace 0|1> <cpus>
  * }}}
  *
  * The ops file (written by run.py from the seed) holds one op per line,
  * tab-separated: phase (setup | warm | timed | final), id, type, kind,
  * table, round, text. Set-up, warm-up and final ops are untimed. Timed
  * ops run in whole rounds until `seconds` have elapsed. With trace 1 a
  * first window runs untraced and a second window, continuing the same
  * op stream, runs with one SparkListener and one QueryExecutionListener
  * attached; the difference of the two windows' latencies is the tracing
  * overhead.
  *
  * Everything the run creates lives under `workDir`: the warehouse, the
  * stream checkpoint, Spark's scratch space. The raw outcome (per-op
  * times, read results, spans and counters) goes to workDir/result.json;
  * run.py turns it into metrics and checks it against a reference.
  */
object Harness {

  case class Op(phase: String, id: Int, tpe: String, kind: String, table: String, round: Int,
      text: String)

  /** What an op returned: a read's rows (sorted, so the comparison
    * ignores row order), a stream epoch's progress, and for a `query` op
    * the time spent constructing its DataFrame (opening its sources,
    * footer reads, any eager work) before the sink ran. */
  case class Result(rows: Seq[String] = Nil, progress: Seq[StreamingQueryProgress] = Nil,
      buildMs: Double = 0.0)

  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, comparable with
    * listener event times. */
  def nowMs(): Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(workDir, dataDir, opsFile, secondsArg, traceArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val ops = Files.readAllLines(Paths.get(opsFile), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Op(f(0), f(1).toInt, f(2), f(3), f(4), f(5).toInt, f(6))
      }.toIndexedSeq
    val warehouse = s"$workDir/warehouse"
    def root(table: String) = s"$warehouse/bench/$table"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = nowMs()
    val spark = SparkEngine.session(master = s"local[$cpus]", appName = "graft-perfbench",
      shufflePartitions = cpus)
    val sessionMs = nowMs() - s0
    spark.read.parquet(s"$dataDir/orders.parquet").createOrReplaceTempView("src_orders")

    val out = new Json
    val lakeTables = ops.map(_.table).filter(_ != "-").distinct

    // --- set-up: fixture tables, recording each table's head version after
    // every step so time-travel ops can name "the version after step k"
    val setupVersions = ArrayBuffer.empty[Map[String, Long]]
    ops.filter(_.phase == "setup").foreach { op =>
      logged(op)(execute(spark, op, op.text, dataDir, workDir, checkDir = None))
      setupVersions += lakeTables.map(t => t -> LakeTable.snapshot(spark, root(t)).version).toMap
    }
    val versionOf = setupVersions.zipWithIndex.flatMap { case (m, k) =>
      m.map { case (t, v) => s"{ver:$t:$k}" -> v.toString }
    }.toMap
    def text(op: Op) = versionOf.foldLeft(op.text) { case (s, (k, v)) => s.replace(k, v) }

    // --- warm-up: untimed; analytic queries write their results once here
    // for the oracle check
    ops.filter(_.phase == "warm").foreach { op =>
      ManagedCache.unpersistAll()
      logged(op)(execute(spark, op, text(op), dataDir, workDir, checkDir = Some(s"$workDir/check")))
    }

    val oracle = ops.filter(_.kind == "query").map(_.text).distinct
      .flatMap(q => SparkEntry.oracleSql.get(q).map(sql => s"${Json.q(q)}:${Json.q(sql)}"))
    out.raw("oracle", oracle.mkString("{", ",", "}"))

    val timed = ops.filter(_.phase == "timed")
    val firstTimedMs = nowMs()
    val records = ArrayBuffer.empty[String]
    val spans = ArrayBuffer.empty[String]
    var next = 0

    def window(tracer: Option[Tracer]): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val first = next
      // whole rounds only, so every window has the same op mix
      while (next < timed.size && (next == first || System.nanoTime() < deadline ||
          timed(next).round == timed(next - 1).round)) {
        val op = timed(next)
        val sql = text(op)
        ManagedCache.unpersistAll()
        val before = tracer.map(_.before(op))
        val t0 = nowMs()
        val (res, err) =
          try (execute(spark, op, sql, dataDir, workDir, None), None)
          catch { case e: Throwable => (Result(), Some(String.valueOf(e.getMessage))) }
        val t1 = nowMs()
        val extra = tracer.map(_.after(op, t0, t1, before.get, res.progress, spans)).getOrElse("")
        records += s"""{"id":${op.id},"type":${Json.q(op.tpe)},"t0":$t0,"t1":$t1,""" +
          s""""build_ms":${res.buildMs},"ok":${err.isEmpty},""" +
          s""""err":${Json.q(err.getOrElse("").take(400))},"traced":${tracer.isDefined},""" +
          s""""rows":${res.rows.map(Json.q).mkString("[", ",", "]")}$extra}"""
        next += 1
      }
    }

    val cpu0 = hostCpu()
    window(None)
    val cpu1 = hostCpu()
    val jvm = if (!trace) "" else {
      val tracer = new Tracer(spark, lakeTables.map(t => t -> root(t)).toMap)
      val jit = ManagementFactory.getCompilationMXBean
      val (jit0, gc0) = (jit.getTotalCompilationTime, gcMs())
      window(Some(tracer))
      tracer.close()
      s""","jvm":{"jit_ms":${jit.getTotalCompilationTime - jit0},"gc_ms":${gcMs() - gc0},""" +
        s""""heap_after_gc_mb":${heapAfterGcMb()}}"""
    }

    // --- end of run, untimed: a workload with final ops brings its derived
    // tables up to date and has every lake table dumped for the reference
    // comparison
    val finalOps = ops.filter(_.phase == "final")
    finalOps.foreach(op => execute(spark, op, text(op), dataDir, workDir, None))
    if (finalOps.nonEmpty) lakeTables.foreach { t =>
      spark.sql(s"SELECT * FROM graft.bench.$t").coalesce(1).write.parquet(s"$workDir/final/$t")
    }
    val files = lakeTables.map { t =>
      val snap = LakeTable.snapshot(spark, root(t))
      val live = snap.entries.map(e => new File(s"${root(t)}/${e.rel}").length()).sum +
        snap.entries.flatMap(_.dv).map(d => new File(s"${root(t)}/${d.rel}").length()).sum
      s"""${Json.q(t)}:{"version":${snap.version},"live_files":${snap.entries.size},""" +
        s""""live_bytes":$live,"disk_bytes":${Tracer.dirBytes(new File(root(t)))}}"""
    }.mkString("{", ",", "}")

    out.field("jvm_start_ms", jvmStartMs)
    out.field("session_ms", sessionMs)
    out.field("first_timed_ms", firstTimedMs)
    for ((total0, steal0) <- cpu0; (total1, steal1) <- cpu1 if total1 > total0)
      out.field("window_steal_frac", (steal1 - steal0).toDouble / (total1 - total0))
    out.raw("setup_versions", setupVersions.map(m =>
      m.map { case (t, v) => s"${Json.q(t)}:$v" }.mkString("{", ",", "}")).mkString("[", ",", "]"))
    out.raw("tables", files)
    out.raw("ops", records.mkString("[\n", ",\n", "]"))
    out.raw("spans", spans.mkString("[\n", ",\n", "]"))
    Files.write(Paths.get(s"$workDir/result.json"),
      (out.render(jvm) + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def logged[T](op: Op)(f: => T): T = {
    val t0 = nowMs()
    val r = f
    System.err.println(f"[perfbench] ${op.phase} ${op.id} ${op.tpe} ${nowMs() - t0}%.0f ms")
    r
  }

  def execute(spark: SparkSession, op: Op, text: String, dataDir: String, workDir: String,
      checkDir: Option[String]): Result = op.kind match {
    case "sql" =>
      text.split(";\\s*").filter(_.nonEmpty).foreach(st => spark.sql(st).collect())
      Result()
    case "read" =>
      Result(rows = spark.sql(text).collect().map(_.mkString("|")).sorted.toSeq)
    case "query" =>
      val b0 = nowMs()
      val df = SparkEntry.queries(text)(spark, dataDir)
      val buildMs = nowMs() - b0
      checkDir match {
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$text")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      Result(buildMs = buildMs)
    case "stream" =>
      val Array(src, tgt) = text.split(",")
      val q = spark.readStream.table(s"graft.bench.$src").writeStream
        .option("checkpointLocation", s"$workDir/checkpoint/$tgt")
        .trigger(Trigger.AvailableNow())
        .toTable(s"graft.bench.$tgt")
      q.awaitTermination()
      Result(progress = q.recentProgress.toSeq)
  }

  /** (all, stolen) CPU ticks of this machine so far, from /proc/stat:
    * the time a hypervisor gave to other guests while this one wanted to
    * run. None where /proc/stat is absent. */
  private def hostCpu(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }.toOption

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Per-op layer accounting for the traced window: listener events are
  * buffered, the bus is drained after each op, and everything buffered
  * since the op began is attributed to it (one client thread, so no
  * other op can be in flight).
  */
class Tracer(spark: SparkSession, tableRoots: Map[String, String]) {
  import Harness.nowMs

  private val buf = ArrayBuffer.empty[String]
  private val stageLaunch = scala.collection.mutable.Map.empty[Int, Long]
  private val stageAgg = scala.collection.mutable.Map.empty[Int, Array[Long]]

  // task metric slots summed per stage
  private val Fields = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "in_bytes", "in_rows",
    "shuffle_read", "shuffle_write", "spill")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = buf.synchronized {
      buf += s"""{"ev":"job_start","job":${e.jobId},"t":${e.time}}"""
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = buf.synchronized {
      buf += s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}"""
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = buf.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](Fields.size))
      stageLaunch(e.stageId) = stageLaunch.get(e.stageId)
        .fold(e.taskInfo.launchTime)(_.min(e.taskInfo.launchTime))
      a(0) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(1) += m.executorRunTime; a(2) += m.executorCpuTime / 1000000L; a(3) += m.jvmGCTime
        a(4) += m.inputMetrics.bytesRead; a(5) += m.inputMetrics.recordsRead
        a(6) += m.shuffleReadMetrics.totalBytesRead; a(7) += m.shuffleWriteMetrics.bytesWritten
        a(8) += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = buf.synchronized {
      val i = e.stageInfo
      val a = stageAgg.remove(i.stageId).getOrElse(new Array[Long](Fields.size))
      val launch = stageLaunch.remove(i.stageId)
      val sub = i.submissionTime.getOrElse(0L)
      val fields = Fields.zip(a).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      buf += s"""{"ev":"stage","stage":${i.stageId},"start":$sub,""" +
        s""""end":${i.completionTime.getOrElse(sub)},"first_launch":${launch.getOrElse(sub)},$fields}"""
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = buf.synchronized {
      val phases = qe.tracker.phases.map { case (k, p) =>
        s"""${Json.q(k)}:[${p.startTimeMs},${p.endTimeMs}]""" }.mkString("{", ",", "}")
      buf += s"""{"ev":"qe","func":${Json.q(funcName)},"phases":$phases}"""
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def counters(): Seq[Long] =
    Seq(LakeTable.manifestParses.get(), LakeTable.segmentLoads.get(), LakeTable.mergeRebases.get())

  private def fsStats(): Seq[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Seq(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private def files(): Map[String, Long] =
    tableRoots.values.flatMap(r => Tracer.listFiles(new File(r))).toMap

  def before(op: Harness.Op): Tracer.Before = {
    BusDrain.drain(spark.sparkContext)
    buf.synchronized(buf.clear())
    Tracer.Before(counters(), fsStats(), files())
  }

  /** Drains the bus, then emits this op's spans and returns its counters
    * as extra JSON fields of the op record. */
  def after(op: Harness.Op, t0: Double, t1: Double, b: Tracer.Before,
      progress: Seq[StreamingQueryProgress],
      spans: ArrayBuffer[String]): String = {
    BusDrain.drain(spark.sparkContext)
    val events = buf.synchronized { val e = buf.toList; buf.clear(); e }
    val c = counters().zip(b.counters).map { case (a, z) => a - z }
    val fs = fsStats().zip(b.fs).map { case (a, z) => a - z }
    val now = files()
    val written = now.collect { case (p, n) if !b.files.get(p).contains(n) => n }.sum
    spans += s"""{"op":${op.id},"name":"op.${op.tpe}","start":$t0,"end":$t1,"parent":null}"""
    events.foreach(e => spans += s"""{"op":${op.id},"parent":${op.id},"e":$e}""")
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => s"${Json.q(k)}:$v" }.mkString("{", ",", "}")
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += s"""{"op":${op.id},"parent":${op.id},"e":{"ev":"trigger","t":$start,"durations":$d}}"""
    }
    // the harness's own timed LakeTable.snapshot of the op's table, after
    // the op (outside its latency)
    val (snapMs, liveBytes, liveFiles, version) =
      tableRoots.get(op.table).map { r =>
        val s0 = nowMs()
        val snap = LakeTable.snapshot(spark, r)
        val s1 = nowMs()
        spans += s"""{"op":${op.id},"name":"lake.snapshot","start":$s0,"end":$s1,"parent":${op.id}}"""
        (s1 - s0, snap.entries.flatMap(_.bytes).sum, snap.entries.size, snap.version)
      }.getOrElse((0.0, 0L, 0, 0L))
    s""","lake":{"manifest_parses":${c(0)},"segment_loads":${c(1)},"merge_rebases":${c(2)},""" +
      s""""snapshot_ms":$snapMs,"live_bytes":$liveBytes,"live_files":$liveFiles,"version":$version,""" +
      s""""bytes_written":$written,"table_bytes":${now.values.sum}},""" +
      s""""fs":{"bytes_read":${fs(0)},"bytes_written":${fs(1)}}"""
  }

  def close(): Unit = {
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  case class Before(counters: Seq[Long], fs: Seq[Long], files: Map[String, Long])

  def listFiles(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else if (f.isFile) Seq(f.getPath -> f.length())
    else Nil

  def dirBytes(f: File): Long = listFiles(f).map(_._2).sum
}

/** Minimal JSON object writer (the harness has no JSON dependency). */
class Json {
  private val fields = ArrayBuffer.empty[String]
  def field(k: String, v: Double): Unit = fields += s"${Json.q(k)}:$v"
  def raw(k: String, v: String): Unit = fields += s"${Json.q(k)}:$v"
  def render(tail: String): String = fields.mkString("{", ",\n", tail + "}")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
