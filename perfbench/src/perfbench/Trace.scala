package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Process CPU, machine steal and machine system seconds at one instant.
  * Differences of two readings attribute a timed region's "weather": a
  * sample is stored with its weather and never dropped or retried. */
final case class Weather(cpuS: Double, stealS: Double, sysS: Double) {
  def -(o: Weather): Weather = Weather(cpuS - o.cpuS, stealS - o.stealS, sysS - o.sysS)
}

object Weather {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** /proc/stat first "cpu" line, fields in USER_HZ (100/s) jiffies. */
  def now(): Weather = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val (steal, sys) =
      try {
        val p = f.getLines().next().trim.split("\\s+")
        (p(8).toDouble / 100.0, p(3).toDouble / 100.0)
      } finally f.close()
    Weather(os.getProcessCpuTime / 1e9, steal, sys)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
}

/** Largest heap in use right after any GC, from GC notifications. */
object HeapPeak {
  @volatile private var peak = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }

  def mb: Double = peak / 1048576.0
}

/** Per-layer stage metrics, accumulated by the listener. */
final class LayerStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleWriteMb = 0.0
  var shuffleReadMb = 0.0
  var spillMb = 0.0
  var recordsIn = 0L
  var exchanges = 0
  var queries = 0
  /** max / p50 task time of the layer's heaviest stage, and that stage's run time. */
  var skew = 0.0
  var skewStageRunS = -1.0
  /** wall time of map-side (shuffle-writing) and of result-side stages */
  var mapWallS = 0.0
  var reduceWallS = 0.0
}

/** Spans around the benchmark's calls into each layer, plus a SparkListener
  * that attributes every stage to the layer whose job group launched it.
  *
  * Disabled (untraced runs), `span` only runs its body: no listener, no job
  * groups. Enabled, each span sets its layer name
  * as the job group, drains the listener bus at both ends so events land on
  * the right span, and records start, end, parent and run id. Spans stay in
  * memory and are written as one JSON file by [[writeJson]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stats = new ConcurrentHashMap[String, LayerStats]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val taskTimes = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  private val stageRecords = ArrayBuffer.empty[String]
  @volatile private var currentLayer = "(none)"
  private var installed = false
  private var on = false

  def enabled: Boolean = on

  /** Installs the listeners (once) and turns spans on. */
  def enable(): Unit = { if (!installed) install(); installed = true; on = true }

  def disable(): Unit = on = false

  def layer(name: String): LayerStats = stats.computeIfAbsent(name, _ => new LayerStats)

  private def flush(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext)

  private def install(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("(none)")
        e.stageIds.foreach(stageLayer.put(_, g))
        layer(g).synchronized { layer(g).jobs += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val ti = e.taskInfo
        taskTimes.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
          .synchronized { taskTimes.get(e.stageId) += ti.duration }
        taskIntervals.synchronized { taskIntervals += ((ti.launchTime, ti.finishTime)) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val l = layer(Option(stageLayer.get(info.stageId)).getOrElse("(none)"))
        val m = info.taskMetrics
        val durs = Option(taskTimes.remove(info.stageId)).map(_.sorted).getOrElse(ArrayBuffer(0L))
        val wall = (for (s <- info.submissionTime; c <- info.completionTime) yield c - s)
          .getOrElse(0L) / 1e3
        stageRecords.synchronized {
          stageRecords += s"""{"stage": ${info.stageId}, "layer": ${Json.str(stageLayer.getOrDefault(info.stageId, "(none)"))}, """ +
            s""""name": ${Json.str(info.name)}, "tasks": ${info.numTasks}, "wall_s": $wall, """ +
            s""""run_s": ${m.executorRunTime / 1e3}, "cpu_s": ${m.executorCpuTime / 1e9}, """ +
            s""""shuffle_write_mb": ${m.shuffleWriteMetrics.bytesWritten / 1048576.0}, """ +
            s""""task_p50_ms": ${durs(durs.length / 2)}, "task_max_ms": ${durs.last}}"""
        }
        l.synchronized {
          l.stages += 1
          l.tasks += info.numTasks
          val run = m.executorRunTime / 1e3
          l.runS += run
          l.cpuS += m.executorCpuTime / 1e9
          l.gcS += m.jvmGCTime / 1e3
          l.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
          l.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1048576.0
          l.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
          l.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (m.shuffleWriteMetrics.bytesWritten > 0) l.mapWallS += wall else l.reduceWallS += wall
          if (run > l.skewStageRunS) {
            l.skewStageRunS = run
            val p50 = durs(durs.length / 2)
            l.skew = if (p50 > 0) durs.last.toDouble / p50 else 1.0
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val l = layer(currentLayer)
        l.synchronized { l.exchanges += Tracer.shuffleExchanges(qe.executedPlan); l.queries += 1 }
      }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
  }

  /** Runs `body` as span `name`; its Spark jobs are attributed to `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    flush()
    val sp = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
    spans += sp
    open = sp :: open
    currentLayer = name
    spark.sparkContext.setJobGroup(name, name)
    try body
    finally {
      flush()
      sp.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) =>
          currentLayer = p.name; spark.sparkContext.setJobGroup(p.name, p.name)
        case None =>
          currentLayer = "(none)"; spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Total seconds of all closed spans with this name. */
  def seconds(name: String): Double =
    spans.filter(s => s.name == name && s.endNs > 0).map(s => (s.endNs - s.startNs) / 1e9).sum

  def durations(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.endNs > 0).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def allLayers: Map[String, LayerStats] = { flush(); stats.asScala.toMap }

  /** (jobs, stages, tasks, shuffle write MB, spill MB) over every layer so far. */
  def totals(): (Double, Double, Double, Double, Double) = {
    val ls = allLayers.values
    (ls.map(_.jobs).sum.toDouble, ls.map(_.stages).sum.toDouble, ls.map(_.tasks).sum.toDouble,
      ls.map(_.shuffleWriteMb).sum, ls.map(_.spillMb).sum)
  }

  /** Wall time inside [fromMs, toMs] (epoch millis) during which no task ran:
    * planning, codegen, AQE re-optimization and scheduling. */
  def driverGapSeconds(fromMs: Long, toMs: Long): Double = {
    flush()
    val iv = taskIntervals.synchronized(taskIntervals.toArray)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (toMs - fromMs) - covered) / 1e3
  }

  /** One JSON file with every span (self time = span minus the part of it
    * that its child spans cover) and every layer's stage metrics. */
  def writeJson(path: String, meta: Map[String, String]): Unit = {
    def rel(ns: Long) = (ns - t0) / 1e6
    val children = spans.groupBy(_.parent)
    val spanJson = spans.map { s =>
      val childMs = children.getOrElse(s.id, Nil).map(c => (c.endNs - c.startNs) / 1e6).sum
      val durMs = (s.endNs - s.startNs) / 1e6
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "run_id": ${Json.str(runId)}, """ +
        s""""start_ms": ${rel(s.startNs)}, "end_ms": ${rel(s.endNs)}, "self_ms": ${durMs - childMs}}"""
    }
    val layerJson = allLayers.toSeq.sortBy(_._1).map { case (n, l) =>
      s"""${Json.str(n)}: {"jobs": ${l.jobs}, "stages": ${l.stages}, "tasks": ${l.tasks}, "run_s": ${l.runS}, """ +
        s""""cpu_s": ${l.cpuS}, "gc_s": ${l.gcS}, "shuffle_write_mb": ${l.shuffleWriteMb}, """ +
        s""""shuffle_read_mb": ${l.shuffleReadMb}, "spill_mb": ${l.spillMb}, "records_in": ${l.recordsIn}, """ +
        s""""task_skew": ${l.skew}, "shuffle_exchanges": ${l.exchanges}, "queries": ${l.queries}}"""
    }
    val metaJson = meta.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    val out = s"""{"run_id": ${Json.str(runId)}, "meta": {${metaJson.mkString(", ")}},\n"spans": [\n""" +
      spanJson.mkString(",\n") + "\n],\n\"layers\": {\n" + layerJson.mkString(",\n") +
      "\n},\n\"stages\": [\n" + stageRecords.synchronized(stageRecords.mkString(",\n")) + "\n]}\n"
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, out)
  }
}

object Tracer {
  /** Shuffle Exchange nodes in a query's final (post-AQE) physical plan. */
  def shuffleExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
    case q: QueryStageExec => shuffleExchanges(q.plan)
    case s: ShuffleExchangeLike => 1 + s.children.map(shuffleExchanges).sum
    case other => other.children.map(shuffleExchanges).sum +
      other.subqueries.map(shuffleExchanges).sum
  }

  def shuffleExchanges(df: DataFrame): Int = shuffleExchanges(df.queryExecution.executedPlan)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
