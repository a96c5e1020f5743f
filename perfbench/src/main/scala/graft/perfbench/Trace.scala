package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the engine, plus Spark's own job/task counters
  * read through a `SparkListener` and a `QueryExecutionListener` that this
  * class registers. Everything stays in memory until [[report]].
  *
  * A span's jobs are the jobs submitted while it was the innermost open
  * span (the span id rides a thread-inherited local property, so jobs of
  * `Actions.inParallel` branches are attributed too). A span may name a
  * [[Classifier]] that splits its jobs into child spans by call site or
  * job description. Counters other than `self_s` include the span's
  * children; `self_s` is the span's time minus the union of its
  * children's intervals.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final case class SpanInst(id: Int, name: String, parent: Int,
      start: Double, var end: Double, classifier: Option[Classifier])
  private final case class JobRec(id: Int, span: Int, start: Double,
      var end: Double, stageName: String, description: String, execution: Option[Long]) {
    /** Call site of the action that submitted the job. */
    def callSite(execs: collection.Map[Long, (Long, String)]): String =
      execution.flatMap(execs.get).flatMap { case (root, d) =>
        execs.get(root).map(_._2).orElse(Some(d)) }.getOrElse(stageName)
  }
  private final case class TaskRec(stage: Int, start: Double, end: Double,
      cpuNs: Long, shuffleWrite: Long, spill: Long)

  private val spans = mutable.ArrayBuffer.empty[SpanInst]
  private var open: List[SpanInst] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // SQL execution id -> (root execution id, description: the action's
  // call site unless a job description was set)
  private val executions = mutable.HashMap.empty[Long, (Long, String)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val extras = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var capturePairs = false
  private var candidatePairs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val span = Option(prop(SpanProp)).filter(_.nonEmpty).map(_.toInt).getOrElse(-1)
      // the result stage is named after the job's call site ("count at
      // X.scala:N"); AQE stage jobs are resolved through their execution
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = JobRec(e.jobId, span, e.time.toDouble, Double.NaN,
        site, prop("spark.job.description"),
        Option(prop("spark.sql.execution.id")).filter(_.nonEmpty).map(_.toLong))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
        executions(x.executionId) = (x.rootExecutionId.getOrElse(x.executionId), x.description)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = Option(e.taskMetrics)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble,
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (capturePairs) {
        val n = PlanWalk.collect(qe.executedPlan) {
          case a: BaseAggregateExec
              if a.requiredChildDistributionExpressions.isDefined &&
                a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") =>
            a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        Tracer.this.synchronized { candidatePairs += n }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcStart = 0L

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gcStart = gcMs
  }

  /** Drain pending listener events, then detach the listeners. */
  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    extras("workload.gc_s") = (gcMs - gcStart) / 1000.0
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` inside a span named `name`. */
  def span[T](name: String, classifier: Option[Classifier] = None)(f: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = synchronized {
      val s = SpanInst(spans.length, name, parent, nowMs, Double.NaN, classifier)
      spans += s; s
    }
    val prev = sc.getLocalProperty(SpanProp)
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f finally {
      s.end = nowMs
      open = open.tail
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** [[span]] that also sums the candidate pairs of banded MinHash plans
    * (final aggregates grouping on (id_a, id_b)) executed inside it. */
  def pairsSpan[T](name: String)(f: => T): (T, Long) = {
    capturePairs = true
    val before = synchronized(candidatePairs)
    try {
      val r = span(name)(f)
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      (r, synchronized(candidatePairs) - before)
    } finally capturePairs = false
  }

  def extra(name: String, value: Double): Unit = synchronized { extras(name) = value }

  /** Per-span counters `<span>.<counter>` summed over span instances,
    * plus `workload.tasks`, `workload.spill_mb` and the recorded extras. */
  def report(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val byInst = jobs.values.filter(_.span >= 0).groupBy(_.span)
    val tasksByJob = tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))
    def descendants(id: Int): Seq[SpanInst] = {
      val kids = spans.filter(_.parent == id).toSeq
      kids ++ kids.flatMap(k => descendants(k.id))
    }
    def jobInterval(j: JobRec): (Double, Double) =
      (j.start, if (j.end.isNaN) j.start else j.end)
    def emit(name: String, intervals: Seq[(Double, Double)], childIv: Seq[(Double, Double)],
        js: Seq[JobRec]): Unit = {
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val total = unionLength(intervals)
      add(s"$name.self_s", (total - overlap(intervals, childIv)) / 1000.0)
      add(s"$name.jobs", js.size.toDouble)
      add(s"$name.task_cpu_s", ts.map(_.cpuNs).sum / 1e9)
      add(s"$name.shuffle_write_mb", ts.map(_.shuffleWrite).sum / MiB)
      add(s"$name.driver_gap_s",
        (total - overlap(intervals, ts.map(t => (t.start, t.end)))) / 1000.0)
    }
    spans.foreach { s =>
      val subtree = s +: descendants(s.id)
      val allJobs = subtree.flatMap(x => byInst.getOrElse(x.id, Nil))
      val own = byInst.getOrElse(s.id, Nil).toSeq.sortBy(j => (j.start, j.id))
      val kids = s.classifier.map(c => own.zip(c(own.map(j => Job(j.callSite(executions), j.description)))).collect {
        case (j, Some(child)) => child -> j
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }).getOrElse(Map.empty)
      val iv = Seq((s.start, s.end))
      val explicitKids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
      val derivedKids = kids.values.flatten.map(jobInterval).toSeq
      emit(s.name, iv, explicitKids ++ derivedKids, allJobs)
      kids.foreach { case (child, js) =>
        val civ = js.map(jobInterval)
        emit(child, civ, Nil, js)
      }
    }
    add("workload.tasks", tasks.size.toDouble)
    add("workload.spill_mb", tasks.map(_.spill).sum / MiB)
    extras.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Job call sites and descriptions per span, for diagnosing a classifier. */
  def jobLog(): Seq[String] = synchronized {
    jobs.values.toSeq.map { j =>
      val name = spans.lift(j.span).map(_.name).getOrElse("-")
      f"job ${j.id}%4d span=$name site=${j.callSite(executions)} desc=${j.description}"
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val MiB = 1024.0 * 1024.0

  /** Maps a span's jobs (in submission order) to child span names;
    * `None` leaves a job in the span's own self time. */
  type Classifier = Seq[Job] => Seq[Option[String]]
  final case class Job(callSite: String, description: String)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def merge(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }

  def unionLength(iv: Seq[(Double, Double)]): Double = merge(iv).map { case (a, b) => b - a }.sum

  /** Length of the part of `base`'s union covered by `cover`'s union. */
  def overlap(base: Seq[(Double, Double)], cover: Seq[(Double, Double)]): Double = {
    val c = merge(cover)
    merge(base).map { case (a, b) =>
      c.map { case (x, y) => math.max(0.0, math.min(b, y) - math.max(a, x)) }.sum
    }.sum
  }
}
