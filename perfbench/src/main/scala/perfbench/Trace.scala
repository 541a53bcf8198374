package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed span around one call the benchmark makes into the program. */
final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(jobId: Int, op: String, execId: Long, startMs: Long,
    var endMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, numTasks: Int, wallMs: Long, runMs: Long,
    gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
final case class ExecRec(execId: Long, op: String, durMs: Double, output: String,
    scansBinaryFile: Boolean, readsDicts: Int)

/** Spans plus Spark-side records, all kept in memory until the run
  * ends. Spans are recorded only when enabled; the Spark listeners (jobs
  * and stages, SQL executions) are registered only in a traced run.
  *
  * Every operation sets the Spark local property [[OpKey]] on the
  * calling thread, so jobs, stages and SQL executions carry the op id
  * of the benchmark call that caused them. Threads the adapter starts
  * inherit the property that was current when they were created.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val OpKey = "perfbench.op"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val execOps = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def setOp(op: String): Unit = spark.sparkContext.setLocalProperty(OpKey, op)

  /** Time `f` as span `name` under the current span of this thread. */
  def span[T](op: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), op, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      if (exec >= 0 && op.nonEmpty) execOps.putIfAbsent(exec, op)
      jobs.put(e.jobId, JobRec(e.jobId, op, exec, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      stages.put(i.stageId, StageRec(i.stageId, i.numTasks, wall,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val SegPath = """seg-[A-Za-z0-9_.-]+""".r
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  /** SQL executions: start and end events carry the id the jobs' local
    * properties name, and the physical plan, which holds the output path
    * of a write and the file format of a scan.
    */
  private val sqlListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        sqlStarts.put(st.executionId, (st.time, st.physicalPlanDescription))
      case end: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(end.executionId)).foreach { case (t0, plan) =>
          // a write's node is the plan root: its arguments, the first
          // after the node list, start with the output path
          val w = plan.indexOf("Execute InsertIntoHadoopFsRelationCommand")
          val output =
            if (w < 0) ""
            else SegPath.findFirstIn(plan.substring(math.max(w, plan.indexOf("Arguments:", w))))
              .getOrElse("other")
          execs.add(ExecRec(end.executionId, Option(execOps.get(end.executionId)).getOrElse(""),
            (end.time - t0).toDouble, output, plan.contains("binaryFile") || plan.contains("BinaryFile"),
            SegPath.findAllIn(plan).toSeq.distinct.count(_.endsWith("-dict"))))
        }
      case _ =>
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(sqlListener)
  }

  /** Wait until every listener event posted so far is delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.sparkContext.removeSparkListener(sqlListener)
  }

  // ---- aggregation ----------------------------------------------------

  def jobsOf(p: JobRec => Boolean): Seq[JobRec] = jobs.values().asScala.toSeq.filter(p)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))

  def execsOf(p: ExecRec => Boolean): Seq[ExecRec] = execs.asScala.toSeq.filter(p)

  /** Spans as JSON lines for the side file. */
  def spanLines: Seq[String] = allSpans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
