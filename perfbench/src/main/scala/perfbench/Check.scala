package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rio.SparqlJson
import graft.sparql.{Compiler, Sparql, SparqlParser}

/** Answer checks. A task's SPARQL-JSON answer is compared, as a
  * multiset of bindings, with the answer to the same text evaluated on
  * the struct plane (`encoded = None`) over an in-memory reference
  * dataset derived straight from the source tables.
  */
final class Check(spark: SparkSession, reference: () => DataFrame) {
  private val mapper = new ObjectMapper()
  private lazy val ref: DataFrame = reference()

  /** Canonical multiset of a SPARQL-JSON document (ASK: its boolean). */
  def canon(json: String): Map[String, Int] = {
    val root = mapper.readTree(json)
    if (root.has("boolean")) Map(s"ask:${root.get("boolean").asBoolean()}" -> 1)
    else root.get("results").get("bindings").elements().asScala.map { (b: JsonNode) =>
      b.fields().asScala.map { e =>
        val v = e.getValue
        def f(k: String) = Option(v.get(k)).map(_.asText()).getOrElse("")
        s"${e.getKey}=${f("type")}|${f("value")}|${f("datatype")}|${f("xml:lang")}"
      }.toSeq.sorted.mkString("\u0001")
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  def expected(text: String): String = {
    val parsed = SparqlParser.parse(text)
    val c = new Compiler(spark, ref, fromGraphs = parsed.fromGraphs, fromNamed = parsed.fromNamed)
    Sparql.evaluate(c, parsed) match {
      case Sparql.AskResult(b) => SparqlJson.ask(b)
      case Sparql.SelectResult(sol) => SparqlJson.select(sol)
      case Sparql.GraphResult(t) => SparqlJson.selectLexical(t)
    }
  }

  private val wanted = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Int]]()

  /** Reference answers of `texts`, each computed once, `threads` at a
    * time, next to the `other` checks; returns what those found.
    */
  def prefetch(texts: Seq[String], other: Seq[() => Option[String]], threads: Int): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val others = other.map(f => pool.submit(() => f()))
      ref.count() // materialize the cached reference once, before the fan-out
      texts.distinct.map(t => pool.submit(() => wanted.put(t, canon(expected(t)))))
        .foreach(_.get())
      others.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** None when `answer` is right, else a one-line reason. */
  def verify(text: String, answer: String): Option[String] =
    if (answer == SparqlJson.failurePlaceholder) Some("failure placeholder")
    else {
      val got = canon(answer)
      val want = wanted.computeIfAbsent(text, t => canon(expected(t)))
      if (got == want) None
      else Some(s"bindings differ: got ${got.values.sum} rows, want ${want.values.sum}")
    }

}

object Check {
  /** Integer value of the single binding of a one-row count answer. */
  def count(answer: String): Option[Long] =
    scala.util.Try {
      val b = new ObjectMapper().readTree(answer).get("results").get("bindings")
      b.get(0).fields().next().getValue.get("value").asText().toLong
    }.toOption
}
