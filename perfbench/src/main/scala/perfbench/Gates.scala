package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A short pass over operator-library gates of the `Queries` registry
  * (`ext`/`streaming`/`plans`), limited to gates whose inputs are the
  * five generated tables. Every gate starts from an empty `DfCache`, so
  * none reads a view an earlier gate built; the first gate is an
  * untimed warm-up. A gate fails if it throws or its row count differs
  * from the count its definition implies for the generated tables.
  */
object Gates {
  val WarmUp = "g_components"
  val Timed: Seq[String] = Seq("g_pagerank", "g_ppr")
}

final class Gates(spark: SparkSession, gen: Gen, tr: Tracer) {
  import Gates._

  private def expectedRows(name: String): Long = {
    val t = (n: String) => graft.core.Tables(spark, gen.dir, n)
    name match {
      // nation and region vertices
      case "g_components" => 25L + 5L
      // every customer, nation and region vertex
      case "g_pagerank" => gen.nCustomers + 25L + 5L
      // BUILDING seed customers, plus the nations and regions they reach
      case "g_ppr" =>
        val seeds = t("customer").filter(col("c_mktsegment") === "BUILDING")
        val nats = seeds.select("c_nationkey").distinct()
        val regs = nats.join(t("nation"), col("c_nationkey") === col("n_nationkey"))
          .select("n_regionkey").distinct()
        seeds.count() + nats.count() + regs.count()
    }
  }

  private def one(name: String): (Double, Option[String]) = {
    graft.core.DfCache.invalidateSession(spark)
    tr.setOp(s"gate-$name")
    val t = System.nanoTime()
    try {
      val n = tr.span(s"gate-$name", "gate.run") {
        graft.SparkEntry.queries(name)(spark, gen.dir).count()
      }
      val ms = (System.nanoTime() - t) / 1e6
      tr.setOp("check")
      val want = expectedRows(name)
      (ms, if (n == want) None else Some(s"gate $name returned $n rows, want $want"))
    } catch {
      case e: Throwable => ((System.nanoTime() - t) / 1e6, Some(s"gate $name threw: $e"))
    }
  }

  /** (per-gate ms, failures, attempted) */
  def run(): (Map[String, Double], Seq[String], Int) = {
    val (_, warmFail) = one(WarmUp)
    val timings = Timed.map(n => n -> one(n))
    graft.core.DfCache.invalidateSession(spark)
    (timings.map { case (n, (ms, _)) => n -> ms }.toMap,
      warmFail.toSeq ++ timings.flatMap(_._2._2), 1 + Timed.size)
  }
}
