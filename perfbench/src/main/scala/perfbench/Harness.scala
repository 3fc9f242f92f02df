package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run of one workload: a single client thread drives graft
  * in a closed loop (the next query is sent only when the previous one has
  * finished), one cold pass over the workload's queries in a fresh session,
  * then a fixed number (`--warm`) of warm passes in the same session.
  * Each query is executed by a `noop` write, as `graft.Bench` does; the
  * seed only permutes the query order within each pass.
  *
  * graft is reached only through public calls: `SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `DedupOps.sharedStageList`, `Tables.table` and
  * `Sql.register`.
  *
  * With `--trace 1` the run also records spans (run › pass › query ›
  * operators | exec, plus `stages.<stage>` builds in the cold pass and a
  * `tables` probe after the passes), attributes every Spark job to a span
  * through the `perfbench.span` local property, and alternates untraced and
  * traced warm passes so the cost of tracing is measured in the same JVM.
  *
  * The run writes `result.json`, and each query's output plus
  * `oracle_sql.json` for `tools/check.py`, into `--out`; `run.py` turns them
  * into the benchmark's metrics. */
object Harness {
  val SpanKey = "perfbench.span"
  val Untraced = "untraced"

  /** `stages` are built in a traced cold pass; `stageNames` are all the
    * stages that get a `stages.<stage>.build_ms` figure. */
  final case class Opts(corpus: String, queries: Seq[String], seed: Long,
    warm: Int, trace: Boolean, out: String, stages: Seq[String], stageNames: Seq[String]) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Opts(m("corpus"), list("queries"), m("seed").toLong, m("warm").toInt,
      m.getOrElse("trace", "0") == "1", m("out"), list("stages"), list("stage-names"))
  }

  // ---- spans ---------------------------------------------------------------

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    @volatile var end: Long = -1L
    def ms: Double = (end - start) / 1e6
  }

  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private def sc = SparkSession.active.sparkContext
    /** Opens a span and makes it the attribution target of every Spark job
      * the current thread (and any thread it starts) submits. */
    def open(name: String, parent: Int): Span = {
      val s = new Span(spans.size, name, parent, System.nanoTime())
      spans += s
      if (on) sc.setLocalProperty(SpanKey, s.id.toString)
      s
    }
    def close(s: Span): Unit = {
      s.end = System.nanoTime()
      if (on) sc.setLocalProperty(SpanKey,
        if (s.parent >= 0) s.parent.toString else null)
    }
    def within[T](name: String, parent: Int)(body: Span => T): T = {
      val s = open(name, parent)
      try body(s) finally close(s)
    }
    /** Attribution target for work outside any span (setup, output dump). */
    def bucket(name: String): Unit = if (on) sc.setLocalProperty(SpanKey, name)
  }

  // ---- listeners -----------------------------------------------------------

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var inputRows = 0L; var shWrite = 0L; var shRead = 0L; var spill = 0L
    var peakMem = 0L
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L; var executions = 0L
  }

  final case class Batch(startMs: Long, batchMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateMem: Long, stateCommitMs: Long)

  /** Streaming progress is recorded in every run (the micro-batch latency
    * is an end-to-end figure of the streaming workload); everything else
    * only when tracing. Progress events reach the SparkContext's shared bus
    * from every session, including the per-scenario `newSession()`s. */
  final class Recorder(trace: Boolean) extends SparkListener with QueryExecutionListener {
    val batches = mutable.ArrayBuffer.empty[Batch]
    val acc = mutable.HashMap.empty[String, Acc]
    private val stageSpan = mutable.HashMap.empty[Int, String]
    var unattributed = 0L
    /** Every job the listener saw, by id, and whether it is a barrier job. */
    val jobs = mutable.ArrayBuffer.empty[(Int, Boolean)]
    /** Barrier job ids by tag. */
    val markers = mutable.HashMap.empty[String, Int]
    /** Catalyst phases of the executions delivered since the last `takePlans`. */
    private var plans = new Acc

    private def a(span: String) = acc.getOrElseUpdate(span, new Acc)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        val pr = p.progress
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val ops = pr.stateOperators
        batches += Batch(Instant.parse(pr.timestamp).toEpochMilli, pr.batchDuration, d,
          pr.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
      }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = if (trace) synchronized {
      val span = Option(j.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      jobs += ((j.jobId, span.exists(_.startsWith("marker:"))))
      span match {
        case Some(s) if s.startsWith("marker:") => markers(s) = j.jobId
        case Some(s) =>
          a(s).jobs += 1
          // the untraced passes of a traced run keep only job counts, so
          // their per-task cost is what tracing adds
          if (s != Untraced) j.stageIds.foreach(stageSpan(_) = s)
        case None => unattributed += 1
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (trace) synchronized {
      stageSpan.get(s.stageInfo.stageId).foreach(a(_).stages += 1)
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (trace) synchronized {
      stageSpan.get(t.stageId).foreach { span =>
        val x = a(span)
        x.tasks += 1
        if (t.reason != org.apache.spark.Success) x.failedTasks += 1
        val m = t.taskMetrics
        if (m != null) {
          x.runMs += m.executorRunTime; x.cpuNs += m.executorCpuTime; x.gcMs += m.jvmGCTime
          x.waitMs += math.max(0L, t.taskInfo.duration - m.executorRunTime)
          x.inputRows += m.inputMetrics.recordsRead
          x.shWrite += m.shuffleWriteMetrics.bytesWritten
          x.shRead += m.shuffleReadMetrics.totalBytesRead
          x.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          x.peakMem = math.max(x.peakMem, m.peakExecutionMemory)
        }
      }
    }

    /** The session's executions are delivered on the same bus queue as job
      * events, so after [[drain]] every execution of a finished query has
      * been seen: the client takes them and books them to that query. */
    private def phases(qe: QueryExecution): Unit = if (trace) synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans.analysisMs += ms("analysis"); plans.optimizationMs += ms("optimization")
      plans.planningMs += ms("planning"); plans.executions += 1
    }
    def takePlans(span: String): Unit = synchronized {
      val x = a(span)
      x.analysisMs += plans.analysisMs; x.optimizationMs += plans.optimizationMs
      x.planningMs += plans.planningMs; x.executions += plans.executions
      plans = new Acc
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  // ---- session -------------------------------------------------------------

  /** The confs mirror `graft.Bench`'s builder, at `local[cores]`. */
  def session(o: Opts, rec: Recorder, tracer: Tracer): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(rec)
    if (o.trace) spark.listenerManager.register(rec)
    tracer.bucket("setup")
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"${o.corpus}/lineitem.parquet").limit(10).collect()
    spark
  }

  /** Blocks until the shared listener bus has delivered everything posted
    * so far: a marker job is queued behind all earlier events. */
  def drain(spark: SparkSession, rec: Recorder, tracer: Tracer, tag: String): Unit =
    if (tracer.on) {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      val m = s"marker:$tag"
      sc.setLocalProperty(SpanKey, m)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!rec.synchronized(rec.markers.contains(m)) && System.nanoTime() < deadline) Thread.sleep(1)
      sc.setLocalProperty(SpanKey, prev)
    }

  def cpuSentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1L }
    require(x != 42L)
    (System.nanoTime() - t0) / 1e9
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576.0

  // ---- the run -------------------------------------------------------------

  final case class QRun(name: String, ms: Double, ok: Boolean)
  final case class Pass(index: Int, cold: Boolean, traced: Boolean, startMs: Long,
    endMs: Long, wallS: Double, span: Int, runs: Seq[QRun])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val registry = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(o.out))
    val rec = new Recorder(o.trace)
    val tracer = new Tracer(o.trace)

    // set-up: from JVM start until the session is ready
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, rec, tracer)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sentinel = cpuSentinel()
    val gc0 = gcMillis()

    val fns = o.queries.map(q => q -> registry(q)).toMap
    val passes = mutable.ArrayBuffer.empty[Pass]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val runSpan = tracer.open("run", -1)
    var stagesCachedMb = 0.0
    for (p <- 0 to o.warm) {
      val cold = p == 0
      // traced runs alternate U T T U U T T U ... over the warm passes
      val traced = o.trace && (cold || Set(2, 3)((p - 1) % 4 + 1))
      val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(o.queries)
      if (traced) { drain(spark, rec, tracer, s"pass.$p"); rec.takePlans("other") }
      if (o.trace && !traced) tracer.bucket(Untraced)
      val passSpan = if (traced) tracer.open(s"pass.$p", runSpan.id) else null
      val passWallStart = System.currentTimeMillis()
      val pn0 = System.nanoTime()
      if (cold && traced) {
        val byName = graft.operators.DedupOps.sharedStageList(spark, o.corpus)
          .map(s => s.name -> s).toMap
        o.stages.foreach { st =>
          tracer.within(s"stages.$st", passSpan.id) { _ => byName(st).build().count() }
        }
        stagesCachedMb = storageMb(spark)
      }
      // a traced pass nests query › (operators, exec); an untraced one
      // records only wall times
      def span[T](name: String, parent: Int)(body: Int => T): T =
        if (traced) tracer.within(name, parent)(s => body(s.id)) else body(-1)
      val runs = order.map { q =>
        val qn0 = System.nanoTime()
        val err =
          try {
            span(s"query.$q", if (traced) passSpan.id else -1) { qs =>
              val df: DataFrame = span("operators", qs)(_ => fns(q)(spark, o.corpus))
              span("exec", qs)(_ => df.write.format("noop").mode("overwrite").save())
              if (traced) { drain(spark, rec, tracer, s"q.$p.$q"); rec.takePlans(qs.toString) }
            }
            null
          } catch {
            case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          }
        if (err != null) errors.getOrElseUpdate(q, err)
        QRun(q, (System.nanoTime() - qn0) / 1e6, err == null)
      }
      val wall = (System.nanoTime() - pn0) / 1e9
      val passWallEnd = System.currentTimeMillis()
      if (traced) {
        tracer.close(passSpan)
        // with the barrier job before the pass, brackets the pass's job ids
        drain(spark, rec, tracer, s"pass.$p.end")
      }
      passes += Pass(p, cold, traced, passWallStart, passWallEnd, wall,
        if (traced) passSpan.id else -1, runs)
    }
    tracer.close(runSpan)
    val gcMs = gcMillis() - gc0

    // tables probe: a fresh child session after the passes, so it cannot
    // warm what they measured
    val probe = mutable.ArrayBuffer.empty[(String, Int)]
    if (o.trace) {
      val s2 = spark.newSession()
      for (i <- 1 to 3) {
        probe += (("register", tracer.within("tables.register", -1) { s =>
          graft.Sql.register(s2, o.corpus); s.id }))
        probe += (("read", tracer.within("tables.read", -1) { s =>
          graft.Sql.tableNames.foreach(t => graft.Tables.table(s2, o.corpus, t)); s.id }))
      }
    }
    drain(spark, rec, tracer, "end")
    val cachedMb = storageMb(spark)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // result dump for the oracle check, outside every timed window
    val oracle = graft.SparkEntry.oracleSql
    val checked = o.queries.filter(oracle.contains)
    tracer.bucket("dump")
    val dir = s"${o.out}/dump"
    checked.foreach { q =>
      try fns(q)(spark, o.corpus).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      catch { case NonFatal(e) =>
        errors.getOrElseUpdate(q, s"dump: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.obj(checked.map(q => q -> Json.str(oracle(q)))))
    drain(spark, rec, tracer, "final")

    val result = Json.obj(Seq(
      "cores" -> o.cores.toString,
      "setup_s" -> Json.num(setupS),
      "sentinel_cpu_s" -> Json.num(sentinel),
      "cached_mb" -> Json.num(cachedMb),
      "heap_mb" -> Json.num(heapMb),
      "gc_ms" -> gcMs.toString,
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "oracle" -> Json.arr(checked.map(Json.str)),
      "passes" -> Json.arr(passes.toSeq.map { ps =>
        val bs = rec.synchronized(rec.batches.filter(b => b.startMs >= ps.startMs && b.startMs <= ps.endMs).toSeq)
        Json.obj(Seq("index" -> ps.index.toString, "cold" -> ps.cold.toString,
          "traced" -> ps.traced.toString, "wall_s" -> Json.num(ps.wallS),
          "batch_ms" -> Json.arr(bs.map(b => b.batchMs.toString)),
          "queries" -> Json.arr(ps.runs.map(r => Json.obj(Seq("name" -> Json.str(r.name),
            "ms" -> Json.num(r.ms), "ok" -> r.ok.toString)))))) }),
    ) ++ (if (o.trace) Seq("trace" -> Trace.summary(o, tracer, rec, passes.toSeq, probe.toSeq, stagesCachedMb, gcMs, heapMb))
          else Nil))
    Files.writeString(Paths.get(s"${o.out}/result.json"), result)
    if (o.trace) Files.writeString(Paths.get(s"${o.out}/spans.json"), Json.arr(tracer.spans.toSeq.map(s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))))
    )
    spark.stop()
  }
}
