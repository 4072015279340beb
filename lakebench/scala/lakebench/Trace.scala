package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into the program, in wall-clock ms. Spans nest in
  * time: a call made inside another lies within its interval.
  */
final case class Span(id: Int, layer: String, start: Long, end: Long)

/** Records spans around the benchmark's calls into the program. Spans
  * are kept in memory and read out after a workload step.
  */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def apply[T](layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.currentTimeMillis()
    try body
    finally done += Span(id, layer, t0, System.currentTimeMillis())
  }

  def all: Seq[Span] = done.toSeq
}

/** Counters of one layer. `wall` is self time: the part of the layer's
  * spans not covered by a child span or by a write that belongs to
  * another layer; `driver` is the part of it in which no job ran.
  */
final class LayerStats {
  var wallMs, driverMs, taskMs, cpuNs, jobs, tasks = 0L
  var inputBytes, shuffleBytes, spillBytes, outputBytes = 0L

  def add(o: LayerStats): Unit = {
    wallMs += o.wallMs; driverMs += o.driverMs; taskMs += o.taskMs
    cpuNs += o.cpuNs; jobs += o.jobs; tasks += o.tasks
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
  }

  def toMetrics(layer: String, per: Double): Seq[(String, Double)] = Seq(
    s"$layer.wall_s" -> wallMs / 1e3 / per,
    s"$layer.driver_s" -> driverMs / 1e3 / per,
    s"$layer.task_s" -> taskMs / 1e3 / per,
    s"$layer.cpu_s" -> cpuNs / 1e9 / per,
    s"$layer.jobs" -> jobs / per,
    s"$layer.tasks" -> tasks / per,
    s"$layer.input_bytes" -> inputBytes / per,
    s"$layer.shuffle_bytes" -> shuffleBytes / per,
    s"$layer.spill_bytes" -> spillBytes / per,
    s"$layer.output_bytes" -> outputBytes / per)
}

/** Spark listener that keeps jobs, SQL executions and per-stage task
  * totals in memory. All callbacks arrive on the listener-bus thread;
  * readers call `org.apache.spark.LakeBenchBus.drain` first.
  */
final class Recorder extends SparkListener {
  final case class Job(id: Int, submit: Long, exec: Long, stages: Seq[Int]) {
    var end: Long = Long.MaxValue
  }
  final case class Exec(id: Long, root: Long, plan: String, start: Long) {
    var end: Long = Long.MaxValue
  }
  final class Stage { var tasks, runMs, cpuNs, in, shuffle, spill, out = 0L }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, e.time, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.in += m.inputMetrics.bytesRead
      s.shuffle += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.out += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.physicalPlanDescription, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** Splits [from, to) into per-layer counters.
    *
    * Time goes to the innermost span, except while a SQL execution
    * whose plan writes a table of another layer runs inside it (the
    * gold build writes dims, fact and marts from one call; the
    * incremental fold writes silver, dims, fact and marts): that
    * stretch goes to the written table's layer, as `classify` names it
    * from the plan. A span whose layer is in `splitBy` (the gold call)
    * keeps no time of its own: its driver time before a write goes to
    * that write's layer, and after its last write to the last one's.
    * A job goes to its execution's layer if classified, else to the
    * span's layer at the moment it was submitted.
    */
  def attribute(spans: Seq[Span], from: Long, to: Long,
      classify: String => Option[String],
      splitBy: Set[String] = Set("gold")): Map[String, LayerStats] = synchronized {
    val inRange = spans.filter(s => s.end > from && s.start < to)
    val cls = mutable.HashMap.empty[Long, Option[String]]
    def execClass(id: Long): Option[String] = cls.getOrElseUpdate(id,
      execs.get(id).flatMap { x =>
        classify(x.plan).orElse(if (x.root != x.id) execClass(x.root) else None)
      })
    val written = execs.values.filter(x => x.end > from && x.start < to)
      .flatMap(x => execClass(x.id).map(c => (x, c))).toSeq
    val js = jobs.values.filter(j => j.submit >= from && j.submit < to).toSeq

    def innermost(t: Double): Option[Span] =
      inRange.filter(s => s.start <= t && t < s.end).sortBy(s => (s.start, s.id)).lastOption
    def layerAt(t: Double): Option[String] = innermost(t).map { span =>
      val inSpan = written.filter { case (x, _) => x.start >= span.start && x.start < span.end }
        .sortBy(_._1.start)
      inSpan.collectFirst { case (x, c) if x.start <= t && t < x.end => c }
        .orElse(if (!splitBy(span.layer)) None
          else inSpan.find(_._1.start >= t).orElse(inSpan.lastOption).map(_._2))
        .getOrElse(span.layer)
    }

    val out = mutable.HashMap.empty[String, LayerStats]
    def stat(l: String) = out.getOrElseUpdate(l, new LayerStats)

    val cuts = (inRange.flatMap(s => Seq(s.start, s.end)) ++
      written.flatMap { case (x, _) => Seq(x.start, x.end) } ++
      js.flatMap(j => Seq(j.submit, j.end)) ++ Seq(from, to))
      .filter(t => t >= from && t <= to).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2.0
        layerAt(mid).foreach { layer =>
          val st = stat(layer)
          st.wallMs += b - a
          if (!js.exists(j => j.submit <= mid && mid < j.end)) st.driverMs += b - a
        }
      case _ =>
    }
    js.foreach { j =>
      val layer = execClass(j.exec).orElse(layerAt(j.submit.toDouble))
      layer.foreach { l =>
        val st = stat(l)
        st.jobs += 1
        j.stages.flatMap(stages.get).foreach { s =>
          st.tasks += s.tasks; st.taskMs += s.runMs; st.cpuNs += s.cpuNs
          st.inputBytes += s.in; st.shuffleBytes += s.shuffle
          st.spillBytes += s.spill; st.outputBytes += s.out
        }
      }
    }
    out.toMap
  }
}

object Recorder {
  private val Write = """InsertIntoHadoopFsRelationCommand (\S+?),""".r

  /** Layer of a warehouse table, named by the path a plan writes to. */
  def warehouseLayer(warehouse: String)(plan: String): Option[String] =
    Write.findFirstMatchIn(plan).map(_.group(1)).filter(_.contains(warehouse))
      .flatMap { p =>
        val rel = p.substring(p.indexOf(warehouse) + warehouse.length)
        if (rel.startsWith("/bronze/")) Some("bronze")
        else if (rel.startsWith("/silver/")) Some("silver")
        else if (rel.startsWith("/gold/dim_")) Some("gold.dims")
        else if (rel.startsWith("/gold/fact_")) Some("gold.fact")
        else if (rel.startsWith("/gold/")) Some("gold.marts")
        else if (rel.startsWith("/export/")) Some("export")
        else None
      }
}
