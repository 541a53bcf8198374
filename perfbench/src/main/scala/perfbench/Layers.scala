package perfbench

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._


/** Per-layer metrics of a traced run, from the benchmark's own spans
  * around its calls into the program and from the Spark listeners.
  * Every name is reported on every workload; a layer a workload never
  * reaches reads 0.
  */
final class Layers(tr: Tracer, m: MochaRun, cores: Int,
    untracedSelectP50: Option[Double], gateMs: Map[String, Double]) {

  private val spans = tr.allSpans
  private def spanSum(p: Span => Boolean): Double = spans.filter(p).map(_.ms).sum
  private def isTaskOp(op: String) = op.startsWith("select-") || op.startsWith("insert-")
  /** op ids of the measured section (not set-up, not the checks) */
  private def measured(op: String) =
    op == "load" || op == "infer" || op == "updates" || isTaskOp(op)

  /** Wall time covered by the jobs (adaptive execution runs stages of
    * one query as concurrent jobs, so their intervals are merged).
    */
  private def jobMs(js: Seq[JobRec]): Double =
    js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sorted
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1.toDouble

  private val selectSamples = m.tasks.filter(_.kind == "select")
  private val selectOps = selectSamples.map(_.op)

  /** median over SELECT tasks of the summed spans named `name` */
  private def selectPhase(names: Set[String]): Double =
    Stats.median(selectOps.map(op => spanSum(s => s.op == op && names(s.name))).toSeq)

  private def perSelect(f: String => Double): Double =
    if (selectOps.isEmpty) 0.0 else selectOps.map(f).sum / selectOps.size

  private def jobsOfSelect(op: String) = tr.jobsOf(j => j.op == s"$op/eager" || j.op == s"$op/ser")

  def metrics(failed: Int, attempted: Int): ListMap[String, (Double, String)] = {
    val out = ListMap.newBuilder[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = out += (k -> ((v, u)))

    // adapter + store ----------------------------------------------------
    put("adapter.stage_ms", spanSum(s => s.op == "load" && s.name == "adapter.receiveData"), "ms")
    put("store.load_version_ms", spanSum(s => s.op == "load" && s.name == "adapter.receiveCommand151"), "ms")
    val writes = tr.execsOf(e => e.output.startsWith("seg-") && measured(e.op) || e.output.startsWith("seg-compact"))
    def writeMs(p: String => Boolean) = writes.filter(e => p(e.output)).map(_.durMs).sum
    put("store.segment_write_ms", writeMs(o => !o.endsWith("-enc") && !o.endsWith("-dict")), "ms")
    put("core.encode_ms", writeMs(_.endsWith("-enc")), "ms")
    put("core.dict_build_ms", writeMs(_.endsWith("-dict")), "ms")
    put("store.compact_ms", writeMs(_.startsWith("seg-compact")), "ms")
    put("store.auto_compactions", writes.map(_.output).filter(_.startsWith("seg-compact"))
      .map(_.stripSuffix("-enc").stripSuffix("-dict")).distinct.size.toDouble, "count")
    put("core.id_audit_ms", tr.execsOf(e => e.output.isEmpty && e.readsDicts >= 2 &&
      (e.op.startsWith("insert-") || e.op == "updates")).map(_.durMs).sum, "ms")
    put("store.snapshot_ms", selectPhase(Set("store.snapshot", "store.snapshotEncoded")), "ms")
    val manifest = m.storeDir.resolve("_manifest")
    put("store.segments_end", Files.readString(manifest).split("\n").count(_.nonEmpty).toDouble, "count")
    val inserts = m.tasks.filter(_.kind == "insert")
    put("store.jobs_per_insert",
      if (inserts.isEmpty) 0.0 else inserts.map(t => tr.jobsOf(_.op == t.op).size).sum.toDouble / inserts.size,
      "count")
    val bytes = {
      val w = Files.walk(m.storeDir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
    }
    put("store.disk_bytes_per_quad", bytes.toDouble / math.max(1L, m.quadsExpected), "bytes")

    // rio ------------------------------------------------------------------
    val parseExecs = tr.execsOf(e => e.op == "load" && e.scansBinaryFile).map(_.execId).toSet
    put("rio.parse_tasks", tr.stagesOf(tr.jobsOf(j => j.op == "load" && parseExecs(j.execId)))
      .map(_.numTasks).sum.toDouble, "count")
    val execMs = selectOps.map(op => op -> jobMs(tr.jobsOf(_.op == s"$op/ser"))).toMap
    put("rio.serialize_ms", Stats.median(selectOps.map(op =>
      spanSum(s => s.op == op && s.name == "rio.serialize") - execMs(op)).toSeq), "ms")
    put("rio.result_bytes", Stats.median(selectSamples.map(_.answer.length.toDouble).toSeq), "bytes")

    // sparql ---------------------------------------------------------------
    put("sparql.parse_ms", selectPhase(Set("sparql.parse")), "ms")
    put("sparql.compile_ms", selectPhase(Set("sparql.compile")), "ms")
    put("sparql.plan_ms", selectPhase(Set("sparql.plan")), "ms")
    put("sparql.exec_ms", Stats.median(execMs.values.toSeq), "ms")
    put("sparql.jobs_per_select", perSelect(op => jobsOfSelect(op).size), "count")
    put("sparql.stages_per_select", perSelect(op => tr.stagesOf(jobsOfSelect(op)).size), "count")
    put("sparql.tasks_per_select", perSelect(op => tr.stagesOf(jobsOfSelect(op)).map(_.numTasks).sum), "count")
    put("sparql.eager_jobs_per_select", perSelect(op => tr.jobsOf(_.op == s"$op/eager").size), "count")
    (Templates.read.map(_._1) :+ "fresh_count").foreach { t =>
      put(s"select.${t}_p50_ms", Stats.median(selectSamples.filter(_.template == t).map(_.ms).toSeq), "ms")
    }

    // infer ----------------------------------------------------------------
    val inferJobs = tr.jobsOf(_.op == "infer")
    val inferStages = tr.stagesOf(inferJobs)
    put("infer.jobs", inferJobs.size.toDouble, "count")
    put("infer.stages", inferStages.size.toDouble, "count")
    put("infer.single_task_stages", inferStages.count(_.numTasks == 1).toDouble, "count")
    put("infer.inferred_quads", {
      val snap = m.store.snapshot()
      snap.filter(snap("g") === graft.infer.OwlHorst.InferredGraph).count().toDouble
    }, "count")

    // spark, over the measured section ----------------------------------
    val js = tr.jobsOf(j => measured(j.op.takeWhile(_ != '/')))
    val st = tr.stagesOf(js)
    val wallMs = (m.loadS + m.inferS + math.max(m.streamS, m.drainS)) * 1000
    put("spark.core_util", st.map(_.runMs).sum / (wallMs * cores), "ratio")
    put("spark.single_task_stages_200ms", st.count(s => s.numTasks == 1 && s.wallMs > 200).toDouble, "count")
    put("spark.shuffle_write_bytes", st.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    put("spark.spill_bytes", st.map(_.spillBytes).sum.toDouble, "bytes")
    put("spark.jobs", js.size.toDouble, "count")
    put("spark.tasks", st.map(_.numTasks).sum.toDouble, "count")
    put("spark.gc_ms", st.map(_.gcMs).sum.toDouble, "ms")

    // workload figures that only one workload produces -------------------
    put("infer_s", m.inferS, "s")
    put("select_p90_ms", Stats.quantile(selectSamples.map(_.ms).toSeq, 0.9), "ms")
    put("insert_p50_ms", Stats.median(inserts.map(_.ms).toSeq), "ms")
    put("insert_p90_ms", Stats.quantile(inserts.map(_.ms).toSeq, 0.9), "ms")
    put("stream_updates_per_s", if (m.drainS > 0) m.updates / m.drainS else 0.0, "1/s")
    put("fail_frac", failed.toDouble / math.max(1, attempted), "ratio")

    // operator gates (traced write run only) ------------------------------
    Gates.Timed.foreach(g => put(s"gate.${g}_ms", gateMs.getOrElse(g, 0.0), "ms"))
    put("gate_family.g_s", gateMs.values.sum / 1000, "s")

    // tracing itself -------------------------------------------------------
    // against the newest untraced run of this workload in the same
    // checkout; 0 when there is none yet
    val tracedP50 = Stats.median(selectSamples.map(_.ms).toSeq)
    put("trace.overhead_pct",
      untracedSelectP50.filter(_ > 0).map(u => 100 * (tracedP50 / u - 1)).getOrElse(0.0), "%")
    val phases = Set("sparql.parse", "store.snapshot", "store.snapshotEncoded", "sparql.compile",
      "sparql.plan", "rio.serialize", "adapter.frame")
    val task = spanSum(s => s.name == "task.select")
    put("trace.select_phase_coverage", if (task == 0) 0.0 else spanSum(s => phases(s.name)) / task, "ratio")
    out.result()
  }
}
