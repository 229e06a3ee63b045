package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side cost of everything that ran under one span. */
final class Cost {
  var jobs = 0; var stages = 0; var tasks = 0
  var jobMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startWallMs: Long) {
  var endNs = 0L
  var endWallMs = 0L
  /** A root span's op latency as the workload timed it, outside the tracer. */
  var outerMs = Double.NaN
  val cost = new Cost
  def ns: Long = endNs - startNs
  def ms: Double = ns / 1e6
}

/** The traced-run recorder. Each op of a workload runs in a root span
  * (`op`), and each layer call the op makes runs in a child span (`span`):
  * name, start, end, parent, op id. A span sets a Spark job group so the
  * one listener below charges jobs, stages, tasks, executor time, shuffle,
  * spill and GC to the span whose call started them. Spans stay in memory
  * until the run reports.
  *
  * `on` toggles recording per op: a traced run alternates traced and
  * untraced ops of each kind, and the latency gap between the two is the
  * reported tracing overhead. With `enabled = false` nothing is attached
  * to the session at all.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var on = false
  // Read by the listener thread; a concurrent map keeps span start and
  // end free of any lock the listener holds.
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobStart = mutable.Map.empty[Int, (Span, Long)]
  /** Plan-phase times of every query execution, keyed by wall start. */
  val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.flatMap(k => Option(byGroup.get(k))).foreach { s =>
        s.cost.jobs += 1
        jobStart(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => s.cost.jobMs += e.time - t0 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.cost.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = s.cost
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }.toMap
      val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      Tracer.this.synchronized { phases += ((start, ph)) }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    // One throwaway op loads the span path's classes, so that the first
    // real op's root span is not charged for class loading.
    on = true
    op("tracer.warm", -1)(())
    on = false
    spans.clear()
    byGroup.clear()
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!(enabled && on)) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      val group = s"perfbench-${s.id}"
      spans += s
      byGroup.put(group, s)
      stack = s :: stack
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endWallMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** One op of the workload: a root span around `body`, timed from the
    * outside as well. Returns the result and the outside latency in ms.
    */
  def op[T](name: String, op: Int)(body: => T): (T, Double) = {
    require(stack.isEmpty, s"op $name started inside span ${stack.head.name}")
    val first = spans.size
    val (r, ms) = Stat.timeMs(span(name, op)(body))
    if (spans.size > first) spans(first).outerMs = ms
    (r, ms)
  }

  /** Deliver every pending listener event, then detach. */
  def finish(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Self time: a span's duration minus its children's, in ns. */
  def selfNs(s: Span): Long = s.ns - children.getOrElse(s.id, Nil).map(_.ns).sum

  /** Check the span tree and report its size. Every root span must be an
    * op timed from the outside, and its duration must match that outside
    * latency within 1 ms; every span's self time must be non-negative, so
    * its children fit inside it and the self times of an op's spans sum
    * to the op's duration. `trace.root_gap_ms` is the largest gap between
    * a root span and its outside latency.
    */
  def report(rep: Report): Unit = {
    val roots = spans.filter(_.parent < 0).toSeq
    roots.foreach { r =>
      rep.check(s"root span ${r.name} is an op timed from the outside")(!r.outerMs.isNaN)
    }
    val gaps = roots.map(r => r -> math.abs(r.ms - r.outerMs)).filterNot(_._2.isNaN)
    val gap = gaps.map(_._2).maxOption.getOrElse(0.0)
    rep.check(s"root spans match their ops' outside latency: " +
      gaps.sortBy(-_._2).take(4).map { case (r, g) => f"${r.name}#${r.id} $g%.3f ms" }.mkString(", "))(gap < 1.0)
    val negative = spans.filter(selfNs(_) < 0)
    rep.check(s"spans with negative self time: ${negative.map(_.name).distinct.mkString(",")}")(negative.isEmpty)
    rep.check("a traced run records nested spans")(children.nonEmpty)
    rep.layer("trace.root_gap_ms") = (gap, "ms")
    rep.layer("trace.spans") = (spans.size.toDouble, "count")
  }

  /** Plan phases (analysis, optimization, planning) of the query
    * executions that started inside one of `within`.
    */
  def phasesWithin(within: Seq[Span]): Seq[Map[String, Long]] =
    phases.toSeq.collect {
      case (t, ph) if within.exists(s => t >= s.startWallMs && t <= s.endWallMs) => ph
    }
}

/** Scan-level facts of an executed plan, read from the outside. */
object Scans {
  private def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
  }
  private def metric(s: FileSourceScanExec, k: String): Long =
    s.metrics.get(k).map(_.value).getOrElse(0L)

  /** (files read, rows scanned) over every parquet scan of `df`'s last execution. */
  def filesAndRows(df: DataFrame): (Long, Long) = {
    val ss = leaves(df.queryExecution.executedPlan)
    (ss.map(metric(_, "numFiles")).sum, ss.map(metric(_, "numOutputRows")).sum)
  }
}

/** What one traced read touched: data files read, delete (DV or
  * equality) files read, files live in the table, rows scanned, rows
  * returned. A `live` set that is empty means a plain layout, where
  * every scanned file is a data file.
  */
final case class ReadFacts(files: Long, deleteFiles: Long, live: Long, scanned: Long, rows: Long)

object ReadFacts {
  def of(df: DataFrame, live: Set[String], rows: Long): ReadFacts = {
    val (files, scanned) = Scans.filesAndRows(df)
    if (live.isEmpty) ReadFacts(files, 0L, 0L, scanned, rows)
    else {
      val in = df.inputFiles.map(fileName)
      ReadFacts(in.count(live).toLong, in.count(f => !live(f)).toLong, live.size.toLong, scanned, rows)
    }
  }

  def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** The per-layer read metrics of `layer` (`RangeQuery` or
    * `Snapshots.readWhere`), from its traced build and collect spans.
    * `listed` is the file count of a plain layout, the base of
    * `RangeQuery.files_read_ratio`.
    */
  def report(rep: Report, tr: Tracer, layer: String, build: String, fs: Seq[ReadFacts],
             listed: Long = 0L): Unit = {
    val L = rep.layer
    val n = math.max(1, fs.size).toDouble
    val spans = tr.named(build) ++ tr.named(s"$layer.collect")
    L(s"$layer.build_ms") = (Stat.p50(tr.named(build).map(_.ms)), "ms")
    L(s"$layer.exec_ms") = (Stat.p50(tr.named(s"$layer.collect").map(_.ms)), "ms")
    L(s"$layer.jobs") = (spans.map(_.cost.jobs).sum / n, "count")
    L(s"$layer.rows_scanned_per_row") = (fs.map(_.scanned).sum.toDouble / math.max(1L, fs.map(_.rows).sum), "ratio")
    if (listed > 0) L(s"$layer.files_read_ratio") = (fs.map(_.files).sum / n / listed, "ratio")
    else {
      L(s"$layer.files_read") = (fs.map(_.files).sum / n, "count")
      L(s"$layer.files_live") = (fs.map(_.live).sum / n, "count")
      L(s"$layer.dv_files_read") = (fs.map(_.deleteFiles).sum / n, "count")
      L("FileStats.skip_ratio") = (1.0 - fs.map(_.files).sum.toDouble / math.max(1L, fs.map(_.live).sum), "ratio")
    }
  }
}
