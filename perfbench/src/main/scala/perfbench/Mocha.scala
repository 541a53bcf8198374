package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{MochaAdapter, QuadStore}
import graft.rio.SparqlJson
import graft.sparql.{Compiler, Sparql, SparqlParser}

/** One timed task-channel task. */
final case class TaskSample(kind: String, template: String, op: String, ms: Double,
    text: String, answer: String)

/** What a MOCHA workload measured, before metrics are derived. */
final class MochaRun {
  var loadS = 0.0
  var inferS = 0.0
  var streamS = 0.0
  var drainS = 0.0
  var updates = 0
  val tasks = ArrayBuffer.empty[TaskSample]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var store: QuadStore = _
  var storeDir: Path = _
  var quadsExpected = 0L
  /** count only explicit quads in the final check (inference ran) */
  var explicitOnly = false
  var insertsCommitted = 0
}

/** The two MOCHA workloads, driven through `ingest.MochaAdapter` the
  * way the benchmark protocol's harness drives a system adapter: data
  * frames, the 151/150 bulk-load handshake, task-channel SELECT and
  * INSERT DATA tasks, and data-channel updates after the streaming flip.
  */
final class Mocha(spark: SparkSession, tr: Tracer, gen: Gen, work: Path, heap: HeapWatch) {

  private val phases: Seq[Seq[String]] = gen.phases()
  val phaseTriples: Seq[Int] = phases.map(_.size)
  private val frames: Seq[Seq[Array[Byte]]] =
    phases.zipWithIndex.map { case (l, i) => gen.frames(i, l) }
  val phaseFiles: Seq[Int] = frames.map(_.size)
  val bulkTriples: Long = phaseTriples.sum.toLong

  private def fresh(name: String): (QuadStore, MochaAdapter, Path) = {
    val d = work.resolve(name)
    val store = new QuadStore(spark, d.resolve("store").toString)
    (store, new MochaAdapter(spark, store, d.resolve("staging").toString), d.resolve("store"))
  }

  /** Versioned bulk load: every phase's frames, then command 151; the
    * adapter must answer 150. Returns seconds, first frame to last ACK.
    */
  private def bulkLoad(a: MochaAdapter, op: String, run: MochaRun): Double = {
    tr.setOp(op)
    val t0 = System.nanoTime()
    frames.indices.foreach { p =>
      val last = p == frames.size - 1
      tr.span(op, "adapter.receiveData") {
        frames(p).foreach(a.receiveData)
      }
      val ack = tr.span(op, "adapter.receiveCommand151") {
        a.receiveCommand(a.CommandBulkLoadGenFinished, Gen.bulkFinished(frames(p).size, last))
      }
      run.attempted += 1
      if (!ack.contains(a.CommandBulkLoadingFinished))
        run.failures += s"$op phase $p: bulk-load handshake answered $ack, not 150"
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up for the set-up: the whole bulk load into a store of
    * its own, so the measured loads do not pay the cold JIT. Seconds.
    */
  def warmUp(): Double = {
    val (_, a, _) = fresh("warmup")
    bulkLoad(a, "setup", new MochaRun)
  }

  /** The measured bulk load into the store the task stream uses. */
  private def load(run: MochaRun): (QuadStore, MochaAdapter) = {
    val (store, a, dir) = fresh("main")
    run.store = store
    run.storeDir = dir
    run.loadS = bulkLoad(a, "load", run)
    heap.checkpoint()
    (store, a)
  }

  /** A SELECT/ASK task split into the calls `receiveTask` makes, each
    * in its own span. Same result bytes as `receiveTask`.
    */
  private def tracedSelect(a: MochaAdapter, store: QuadStore, op: String, text: String): Array[Byte] =
    tr.span(op, "task.select") {
      tr.setOp(op + "/eager")
      val json =
        try {
          val parsed = tr.span(op, "sparql.parse")(SparqlParser.parse(text))
          val snap = tr.span(op, "store.snapshot")(store.snapshot())
          val enc = tr.span(op, "store.snapshotEncoded")(store.snapshotEncoded())
          val ev = tr.span(op, "sparql.compile") {
            val c = new Compiler(spark, snap, fromGraphs = parsed.fromGraphs,
              fromNamed = parsed.fromNamed, encoded = enc)
            Sparql.evaluate(c, parsed)
          }
          ev match {
            case Sparql.AskResult(b) => tr.span(op, "rio.serialize")(SparqlJson.ask(b))
            case Sparql.SelectResult(sol) =>
              tr.span(op, "sparql.plan")(sol.queryExecution.executedPlan)
              tr.setOp(op + "/ser")
              tr.span(op, "rio.serialize")(SparqlJson.select(sol))
            case Sparql.GraphResult(t) =>
              tr.setOp(op + "/ser")
              tr.span(op, "rio.serialize")(SparqlJson.selectLexical(t))
          }
        } catch { case _: Throwable => SparqlJson.failurePlaceholder }
      tr.span(op, "adapter.frame")(a.frame(op, json.getBytes(UTF_8)))
    }

  /** Run one SELECT task, timed: `receiveTask` itself, or in a traced
    * run the same calls split into spans.
    */
  private def select(a: MochaAdapter, store: QuadStore, run: MochaRun, i: Int,
      inst: Instance): Unit = {
    val op = s"select-$i"
    tr.setOp(op)
    run.attempted += 1
    val t = System.nanoTime()
    val out =
      if (tr.enabled) tracedSelect(a, store, op, inst.text)
      else a.receiveTask(op, inst.text.getBytes(UTF_8))
    run.tasks += TaskSample("select", inst.template, op, (System.nanoTime() - t) / 1e6,
      inst.text, Gen.unframe(out))
  }

  private def insert(a: MochaAdapter, run: MochaRun, i: Int, text: String): Unit = {
    val op = s"insert-$i"
    tr.setOp(op)
    run.attempted += 1
    val t = System.nanoTime()
    try {
      tr.span(op, "task.insert")(a.receiveTask(op, text.getBytes(UTF_8)))
      run.insertsCommitted += 1
    } catch { case e: Throwable => run.failures += s"$op threw: ${e.getMessage}" }
    run.tasks += TaskSample("insert", "insert_data", op, (System.nanoTime() - t) / 1e6, text, "")
  }

  /** Fixed store: bulk load, then a read-only SELECT stream of whole
    * template rounds for at least `seconds`. With `infer` (the traced
    * run), `materializeInference` follows the stream: the adapter never
    * calls it, so the benchmark does, in place of the reference
    * system's load-time ruleset.
    */
  def bulkRead(seed: Long, seconds: Int, infer: Boolean): MochaRun = {
    val run = new MochaRun
    val (store, a) = load(run)
    val r = new Random(seed * 7919 + 17)
    val s0 = System.nanoTime()
    val deadline = s0 + seconds * 1000000000L
    var i = 0
    do {
      Templates.round(r).foreach { inst => select(a, store, run, i, inst); i += 1 }
    } while (System.nanoTime() < deadline)
    run.streamS = (System.nanoTime() - s0) / 1e9
    if (infer) {
      tr.setOp("infer")
      val t = System.nanoTime()
      run.attempted += 1
      tr.span("infer", "store.materializeInference")(store.materializeInference())
      run.inferS = (System.nanoTime() - t) / 1e9
    }
    run.quadsExpected = bulkTriples
    run.explicitOnly = true
    run
  }

  /** Same bulk load without inference, then units of 2 INSERT DATA
    * tasks, 1 SELECT and 1 data-channel update for at least `seconds`,
    * ending on a whole round of the stream's read templates.
    */
  def streamWrite(seed: Long, seconds: Int): MochaRun = {
    val run = new MochaRun
    val (store, a) = load(run)
    val r = new Random(seed * 7919 + 29)
    var pending = Seq.empty[Instance]
    def nextSelect(): Instance = {
      if (pending.isEmpty) pending = Templates.streamRound(r)
      val h = pending.head
      pending = pending.tail
      h
    }
    var batch = 0
    var upd = 0
    var i = 0
    var lastFresh = -1L
    var firstSubmit = 0L
    def update(): Unit = {
      if (upd == 0) firstSubmit = System.nanoTime()
      // the adapter's pool threads are created by early submits and
      // inherit this op id for every later update
      tr.setOp("updates")
      run.attempted += 1
      tr.span("updates", "adapter.receiveData.update") {
        a.receiveData(Templates.streamUpdate(upd, r, gen.nCustomers).getBytes(UTF_8))
      }
      upd += 1
    }
    val s0 = System.nanoTime()
    val deadline = s0 + seconds * 1000000000L
    do {
      // I I S U: 1 SELECT per 2 inserts, 1 update per 3 tasks
      for (_ <- 0 until 2) { insert(a, run, i, Templates.insertBatch(batch, r, gen.nCustomers)); batch += 1; i += 1 }
      val inst = nextSelect()
      select(a, store, run, i, inst)
      if (inst.template == "fresh_count") {
        val n = Check.count(run.tasks.last.answer).getOrElse(-1L)
        val want = run.insertsCommitted.toLong * Templates.MarkersPerBatch
        if (n % Templates.MarkersPerBatch != 0 || n < lastFresh || n != want)
          run.failures += s"fresh_count read $n after ${run.insertsCommitted} batches (want $want)"
        lastFresh = n
      }
      i += 1
      update()
      // whole SELECT rounds only, so every seed streams the same mix
    } while (System.nanoTime() < deadline || pending.nonEmpty)
    run.streamS = (System.nanoTime() - s0) / 1e9
    if (!a.drain(120)) run.failures += "update pool did not drain within 120 s"
    run.drainS = (System.nanoTime() - firstSubmit) / 1e9
    run.updates = upd
    if (a.failures > 0) run.failures += s"${a.failures} streamed updates failed"
    run.quadsExpected = bulkTriples + run.insertsCommitted.toLong * Templates.TriplesPerBatch +
      (upd - a.failures).toLong * Templates.TriplesPerUpdate
    run
  }

  /** Untimed answer checks: each distinct SELECT text once against the
    * reference; the final quad count against what was committed.
    */
  def verify(run: MochaRun, check: Check): Unit = {
    tr.setOp("check")
    val selects = run.tasks.filter(t => t.kind == "select" && t.template != "fresh_count").toSeq
    val snap = run.store.snapshot()
    val explicit =
      if (run.explicitOnly) snap.filter(snap("g") =!= graft.infer.OwlHorst.InferredGraph) else snap
    def countCheck(): Option[String] = {
      val n = explicit.count()
      if (n == run.quadsExpected) None else Some(s"store holds $n quads, want ${run.quadsExpected}")
    }
    // the loaded explicit statements are exactly the source dataset
    def sameStatements(): Option[String] = {
      def ident(q: DataFrame) = q.select(q("s")("lex"), q("s")("kind"), q("p")("lex"),
        q("o")("lex"), q("o")("kind"), q("o")("dt"), q("o")("lang"))
      val got = ident(explicit)
      val want = ident(gen.quads())
      if (got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty) None
      else Some("loaded statements differ from the source dataset")
    }
    // the store's inferred statements are exactly the OWL-Horst closure
    // of the source dataset
    def sameInferred(): Option[String] = {
      val infG = graft.infer.OwlHorst.InferredGraph
      def ident(q: DataFrame) = q.filter(q("g") === infG).select(q("s")("lex"), q("s")("kind"),
        q("p")("lex"), q("o")("lex"), q("o")("kind"), q("o")("dt"), q("o")("lang"))
      val got = ident(snap)
      val want = ident(graft.infer.OwlHorst.materialize(spark, gen.quads()))
      if (got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty) None
      else Some("inferred statements differ from the closure of the source dataset")
    }
    val storeChecks = check.prefetch(selects.map(_.text), Seq(() => countCheck()) ++
      (if (run.explicitOnly) Seq(() => sameStatements()) else Nil) ++
      (if (run.inferS > 0) Seq(() => sameInferred()) else Nil),
      2 * Runtime.getRuntime.availableProcessors)
    selects.foreach { s =>
      check.verify(s.text, s.answer).foreach(why => run.failures += s"${s.op} (${s.template}): $why")
    }
    run.failures ++= storeChecks
  }
}
