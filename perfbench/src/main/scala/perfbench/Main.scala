package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * [--smoke] [--root DIR] [--git-sha SHA]`
  *
  * Runs one workload in this JVM, prints progress and a run summary on
  * stdout, and as the last line the result object
  * `{"correct", "attempted", "failed", "metrics"}`. The full record
  * (preflight, sizes, every metric, failures) goes to `DIR/runs/`, and
  * in a traced run the spans go beside it as JSON lines.
  */
object Main {
  val Workloads = Seq("mocha_bulk_read", "mocha_stream_write")

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, smoke: Boolean = false, root: String = ".bench_build",
      gitSha: String = "unknown")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, o.copy(smoke = true))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--git-sha" :: v :: t => parse(t, o.copy(gitSha = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  // ---- preflight ------------------------------------------------------

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** JVMs alive on the box that are not this process or its ancestors;
    * any of them can skew every timing in the run.
    */
  def foreignJvms(): Seq[String] = {
    val anc = Iterator.iterate(Option(ProcessHandle.current()))(_.flatMap(_.parent().toScala))
      .takeWhile(_.isDefined).flatten.map(_.pid).toSet
    ProcessHandle.allProcesses().iterator().asScala.filter(p => !anc(p.pid)).flatMap { p =>
      val cmd = p.info().command().toScala.getOrElse("")
      if (cmd.endsWith("/java") || cmd == "java") Some(s"pid=${p.pid} $cmd") else None
    }.toSeq
  }

  /** select_p50_ms of the newest untraced run record of this workload. */
  def lastUntraced(o: Opts): Option[Double] = {
    val runs = Paths.get(o.root).resolve("runs")
    if (!Files.isDirectory(runs)) return None
    val ls = Files.list(runs)
    val newest = try ls.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith(s"${o.workload}-") &&
        p.getFileName.toString.contains("-trace0-") && p.toString.endsWith(".json"))
      .sortBy(Files.getLastModifiedTime(_)).lastOption
      finally ls.close()
    newest.flatMap { p =>
      """"select_p50_ms":\{"value":([0-9.eE+-]+)""".r
        .findFirstMatchIn(Files.readString(p)).map(_.group(1).toDouble)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = parse(args.toList)
    require(Workloads.contains(opts.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val loadBefore = loadAvg()
    val foreign = foreignJvms()
    foreign.foreach(f => System.err.println(s"[perfbench] PREFLIGHT foreign JVM: $f"))
    val root = Paths.get(opts.root).toAbsolutePath
    val work = root.resolve("work").resolve(s"${opts.workload}-${ProcessHandle.current().pid}")
    deleteTree(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val heap = new HeapWatch
    val spark = graft.core.LocalIo(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.limit.initialNumPartitions", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val result = new Workload(spark, opts, work, cores, heap).run(jvmStartMs)
        val record = Json.obj(
          "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
          "trace" -> opts.trace, "smoke" -> opts.smoke,
          "preflight" -> scala.collection.immutable.ListMap(
            "nproc" -> cores, "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg(),
            "git_sha" -> opts.gitSha, "seed" -> opts.seed,
            "foreign_jvms" -> foreign.size, "foreign_jvm_list" -> foreign,
            "flagged" -> foreign.nonEmpty),
          "sizes" -> result.sizes, "failures" -> result.failures,
          "metrics" -> result.allMetrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
        val runs = root.resolve("runs")
        Files.createDirectories(runs)
        val stem = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}-$jvmStartMs"
        Files.writeString(runs.resolve(s"$stem.json"), record + "\n")
        if (opts.trace)
          Files.write(runs.resolve(s"$stem-spans.jsonl"), result.spanLines.asJava)
        println(s"[perfbench] record ${runs.resolve(s"$stem.json")}")
        println(s"[perfbench] preflight nproc=$cores loadavg=$loadBefore->${loadAvg()} " +
          s"git_sha=${opts.gitSha} seed=${opts.seed} foreign_jvms=${foreign.size}" +
          (if (foreign.nonEmpty) " FLAGGED" else ""))
        result.failures.take(20).foreach(f => println(s"[perfbench] FAILED $f"))
        println(result.line(opts.trace))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        deleteTree(work)
      }
    System.exit(code)
  }
}

/** Peak live heap: heap in use right after a full collection, taken at
  * the measured section's phase boundaries (after the bulk load and
  * after the task stream); the largest reading is the peak.
  * Full collections are outside every timed interval.
  */
final class HeapWatch {
  private var peak = 0L

  def checkpoint(): Unit = {
    // the second collection reclaims what Spark's ContextCleaner freed
    // in reaction to the first (blocks of unreachable RDDs, broadcasts)
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}
