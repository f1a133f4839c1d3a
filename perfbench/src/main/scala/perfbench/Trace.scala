package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded span: a named interval on the driver thread. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** Per-job facts the listener collects, keyed by job id. */
private final class JobRec(val span: String, val start: Long,
                           val executionId: Option[Long]) {
  @volatile var end: Long = start
}

/** Layer spans plus a SparkListener that charges every job to the span
  * that was innermost on the calling thread when the job started.
  *
  * The span name travels as a SparkContext local property, which Spark
  * copies onto the threads that run broadcast and adaptive-execution
  * sub-jobs, so those are charged to the span whose action caused them.
  * Spans live in memory; [[report]] folds them into per-layer metrics.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val acc = new ConcurrentHashMap[String, Acc]()
  private def accOf(span: String): Acc = acc.computeIfAbsent(span, _ => new Acc)
  // listener events carry wall-clock millis; spans use nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def eventNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  sc.addSparkListener(this)

  /** Run `body` inside span `name`; nested spans are its children. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    stack = (id, name, System.nanoTime()) :: stack
    sc.setLocalProperty(SpanKey, name)
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      spans += Span(id, name, parent, start, System.nanoTime())
    }
  }

  def close(): Unit = sc.removeSparkListener(this)

  /** Forget everything recorded so far (spans and job facts). */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    spans.clear(); jobs.clear(); stageSpan.clear(); stageSubmit.clear(); acc.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(Unattributed)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, new JobRec(span, eventNs(e.time), exec))
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    accOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = eventNs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse(Unattributed)
    val a = accOf(span)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      Option(stageSubmit.get(e.stageId)).foreach(s =>
        a.queueMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Per-layer metrics of everything recorded since the last reset. */
  def report(): Map[String, LayerStats] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    val all = spans.toSeq
    val children = all.groupBy(_.parent)
    val jobsBySpan = jobs.asScala.values.toSeq.groupBy(_.span)
    val names = (all.map(_.name) ++ jobsBySpan.keys).distinct
    names.map { name =>
      val mine = all.filter(_.name == name)
      val wall = mine.map(s => s.end - s.start).sum
      // self: the span's interval minus the union of its children
      val selfIntervals = mine.flatMap(s =>
        subtract(Seq(s.start -> s.end),
          children.getOrElse(s.id, Nil).map(c => c.start -> c.end)))
      val self = selfIntervals.map(i => i._2 - i._1).sum
      val js = jobsBySpan.getOrElse(name, Nil)
      val jobTime = union(js.map(j => j.start -> j.end)
        .flatMap(j => selfIntervals.flatMap(i => overlap(i, j)))).map(i => i._2 - i._1).sum
      val a = Option(acc.get(name)).getOrElse(new Acc)
      // rows out: per SQL execution, the top-most operator's output rows
      val rows = js.flatMap(_.executionId).distinct.flatMap(id => rowsOut(store, id)).sum
      name -> LayerStats(
        wallS = wall / 1e9, selfS = self / 1e9,
        driverS = math.max(0L, self - jobTime) / 1e9,
        queueS = a.queueMs / 1e3, taskCpuS = a.cpuNs / 1e9,
        jobs = a.jobs, tasks = a.tasks,
        shuffleWriteMb = a.shuffleWrite / 1e6, spillMb = a.spill / 1e6,
        failedTasks = a.failedTasks, rowsOut = rows)
    }.toMap
  }

  /** Output rows summed over the plan operators of `span`'s executions
    * whose name contains `node` and whose description contains `desc`.
    */
  def operatorRows(span: String, node: String, desc: String): Long = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    jobs.asScala.values.filter(_.span == span).flatMap(_.executionId).toSeq.distinct
      .map { id =>
        val values = store.executionMetrics(id)
        store.planGraph(id).allNodes
          .filter(n => n.name.contains(node) && n.desc.contains(desc))
          .flatMap(_.metrics.find(_.name == "number of output rows"))
          .flatMap(m => values.get(m.accumulatorId)).map(parseCount).sum
      }.sum
  }

  /** Jobs charged to no span. */
  def unattributedJobs: Long = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    jobs.asScala.values.count(_.span == Unattributed).toLong
  }
}

/** Metrics of one layer, summed over its spans. */
final case class LayerStats(
    wallS: Double, selfS: Double, driverS: Double, queueS: Double,
    taskCpuS: Double, jobs: Long, tasks: Long, shuffleWriteMb: Double,
    spillMb: Double, failedTasks: Long, rowsOut: Long) {
  def fields: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"), ("self_s", selfS, "s"), ("driver_s", driverS, "s"),
    ("queue_s", queueS, "s"), ("task_cpu_s", taskCpuS, "s"),
    ("jobs", jobs.toDouble, "count"), ("tasks", tasks.toDouble, "count"),
    ("shuffle_write_mb", shuffleWriteMb, "MB"), ("spill_mb", spillMb, "MB"),
    ("failed_tasks", failedTasks.toDouble, "count"),
    ("rows_out", rowsOut.toDouble, "count"))
}

object LayerStats {
  val Zero: LayerStats = LayerStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "(unattributed)"

  private final class Acc {
    var jobs, tasks, failedTasks, queueMs, cpuNs, shuffleWrite, spill = 0L
  }

  private def overlap(a: (Long, Long), b: (Long, Long)): Option[(Long, Long)] = {
    val s = math.max(a._1, b._1); val e = math.min(a._2, b._2)
    if (s < e) Some(s -> e) else None
  }

  private def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def subtract(base: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    union(cut).foldLeft(base) { (cur, c) =>
      cur.flatMap { case (s, e) =>
        Seq(s -> math.min(e, c._1), math.max(s, c._2) -> e).filter(i => i._1 < i._2)
      }
    }

  private def parseCount(v: String): Long =
    v.takeWhile(c => c != ' ' && c != '\n').replace(",", "").toLong

  /** Output rows of an execution's top-most operator that counts them. */
  private def rowsOut(store: org.apache.spark.sql.execution.ui.SQLAppStatusStore,
                      id: Long): Option[Long] = {
    val values = store.executionMetrics(id)
    val graph = store.planGraph(id)
    val nodes = graph.allNodes
      .filterNot(_.isInstanceOf[org.apache.spark.sql.execution.ui.SparkPlanGraphCluster])
    val childrenOf = graph.edges.groupBy(_.toId).map { case (k, es) => k -> es.map(_.fromId) }
    val byId = nodes.map(n => n.id -> n).toMap
    def rows(n: org.apache.spark.sql.execution.ui.SparkPlanGraphNode): Option[Long] =
      n.metrics.find(_.name == "number of output rows")
        .flatMap(m => values.get(m.accumulatorId))
        .map(parseCount)
        .orElse(childrenOf.getOrElse(n.id, Nil).headOption.flatMap(byId.get).flatMap(rows))
    if (nodes.isEmpty) None else rows(nodes.minBy(_.id))
  }
}
