package perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Everything one run produced. */
final class Result(val e2e: ListMap[String, (Double, String)],
    val perLayer: ListMap[String, (Double, String)], val attempted: Int,
    val failures: Seq[String], val sizes: Map[String, Any], val spanLines: Seq[String]) {

  def allMetrics: ListMap[String, (Double, String)] = e2e ++ perLayer

  /** The result object, printed as the run's last stdout line. */
  def line(trace: Boolean): String = {
    val ms = if (trace) perLayer else e2e
    Json.obj("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> ms.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
  }
}

/** Set-up, the measured section, the checks and the metrics of one run. */
final class Workload(spark: SparkSession, o: Main.Opts, work: Path, cores: Int, heap: HeapWatch) {

  /** sf0.01 is the paper-sized MOCHA input. Runs use sf0.001 (8,409
    * triples), so one run, set-up and checks included, stays near a
    * minute on 4 cores; SELECT and inference cost is mostly fixed
    * per-query and per-job overhead, nearly flat in scale. The smoke
    * mode shrinks it further.
    */
  val sf: Double = if (o.smoke) 0.0002 else 0.001

  def run(jvmStartMs: Long): Result = {
    val tr = new Tracer(spark, o.trace)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // the source tables are drawn and written several times; set-up
    // time takes the median of those, plus one rendering into frames
    val reps = if (o.smoke) 1 else 3
    var gen: Gen = null
    val tableS = (0 until reps).map { k =>
      val t = System.nanoTime()
      gen = new Gen(spark, o.seed, sf, work.resolve(s"data-$k").toString)
      gen.writeTables()
      (System.nanoTime() - t) / 1e9
    }
    val t = System.nanoTime()
    val mocha = new Mocha(spark, tr, gen, work, heap)
    val renderS = (System.nanoTime() - t) / 1e9
    val warmS = mocha.warmUp()
    val write = o.workload == "mocha_stream_write"
    val setupS = sessionS + Stats.median(tableS) + renderS + warmS
    println(f"[perfbench] setup: session $sessionS%.2f s, tables ${Stats.median(tableS)}%.2f s " +
      f"(median of $reps), frames $renderS%.2f s, warm-up load $warmS%.2f s")

    val seconds = if (o.smoke) 1 else o.seconds
    val m = if (write) mocha.streamWrite(o.seed, seconds) else mocha.bulkRead(o.seed, seconds, infer = o.trace)
    heap.checkpoint()
    val peakMb = heap.peakMb
    tr.drain()

    // untimed checks against the in-memory dataset derived from the tables
    val check = new Check(spark, () => gen.quads().cache())
    val c0 = System.nanoTime()
    mocha.verify(m, check)
    val checkS = (System.nanoTime() - c0) / 1e9
    tr.drain()

    val selects = m.tasks.filter(_.kind == "select").toSeq
    val inserts = m.tasks.filter(_.kind == "insert").toSeq
    def ms(xs: Seq[TaskSample]) = xs.map(_.ms).toSeq
    val e2e = ListMap(
      "setup_s" -> ((setupS, "s")),
      "load_s" -> ((m.loadS, "s")),
      "select_p50_ms" -> ((Stats.median(ms(selects)), "ms")),
      "tasks_per_s" -> ((m.tasks.size / m.streamS, "1/s")),
      "peak_live_heap_mb" -> ((peakMb, "MB")))
    // the traced write run also times a short operator-gate pass
    val (gateMs, gateFailures, gateAttempts) =
      if (o.trace && write) new Gates(spark, gen, tr).run() else (Map.empty[String, Double], Nil, 0)
    tr.drain()
    val failures = m.failures.toSeq ++ gateFailures
    val attempted = m.attempted + gateAttempts
    val perLayer =
      if (!o.trace) ListMap.empty[String, (Double, String)]
      else new Layers(tr, m, cores, Main.lastUntraced(o), gateMs)
        .metrics(failures.size, attempted)
    println(s"[perfbench] ${o.workload}: ${selects.size} selects, ${inserts.size} inserts, " +
      s"${m.updates} updates; " + e2e.map { case (k, (v, u)) => f"$k=$v%.4f $u" }.mkString(", "))
    val sizes = Map(
      "scale_factor" -> sf, "triples_per_phase" -> mocha.phaseTriples,
      "files_per_phase" -> mocha.phaseFiles, "selects" -> selects.size,
      "inserts" -> inserts.size, "updates" -> m.updates, "infer_s" -> m.inferS,
      "insert_p50_ms" -> Stats.median(ms(inserts)),
      "check_s" -> checkS, "stream_s" -> m.streamS,
      "setup_parts_s" -> Map("session" -> sessionS, "tables" -> tableS, "frames" -> renderS,
        "warmup_load" -> warmS))
    tr.close()
    new Result(e2e, perLayer, attempted, failures, sizes, tr.spanLines)
  }
}
