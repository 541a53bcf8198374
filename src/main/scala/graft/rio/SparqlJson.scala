package graft.rio

import org.apache.spark.sql.DataFrame

import graft.rdf.Rdf

/** SPARQL 1.1 Results JSON serializer — the reference's result format
  * for every SELECT task: `SPARQLResultsJSONWriter`
  * (`GraphDBSystemAdapter.java:32,249`), with the envelope
  * `{"head":{"vars":[…]},"results":{"bindings":[…]}}` visible in the
  * hand-written fallback document at `GraphDBSystemAdapter.java:254`.
  *
  * Serialization happens at the adapter edge after execution and
  * STREAMS: rows flow through `toLocalIterator` (one partition
  * resident at a time) into an `Appendable`, so driver memory is
  * bounded by one partition + the sink, not the result size — the
  * reference's config allows unlimited result sizes
  * (`repo-config.ttl:49-50`), which a whole-result `collect()` would
  * turn into a driver OOM. Bulk exports at 100 TB still belong in
  * parquet sinks, but a pathological SELECT no longer kills the
  * adapter.
  */
object SparqlJson {

  /** The JSON document of any query form (graphs: lexical envelope). */
  def result(evaled: graft.sparql.Sparql.Evaled): String = evaled match {
    case graft.sparql.Sparql.AskResult(b) => ask(b)
    case graft.sparql.Sparql.SelectResult(sol) => select(sol)
    case graft.sparql.Sparql.GraphResult(triples) => selectLexical(triples)
  }

  private def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** One binding object per the W3C vocabulary:
    * `{"type":"uri"|"literal"|"bnode","value":…[,"datatype"|"xml:lang"]}`.
    */
  private def binding(lex: String, kind: Int, dt: String, lang: String): String = {
    val typ = kind match {
      case Rdf.IRI => "uri"
      case Rdf.BNODE => "bnode"
      case _ => "literal"
    }
    val extra =
      if (kind == Rdf.LIT && lang.nonEmpty) s""","xml:lang":"${esc(lang)}""""
      else if (kind == Rdf.LIT && dt.nonEmpty && dt != Rdf.XsdString)
        s""","datatype":"${esc(dt)}""""
      else ""
    s"""{"type":"$typ","value":"${esc(lex)}"$extra}"""
  }

  /** Stream-serialize a solutions DataFrame (term-struct columns,
    * unbound = NULL → binding omitted, per spec) into `out`. Rows
    * arrive via `toLocalIterator` in partition order — the same order
    * `collect()` produced, so the emitted bytes are identical.
    */
  def writeSelect(solutions: DataFrame, out: Appendable): Unit = {
    val vars = solutions.columns
    out.append(s"""{"head":{"vars":[${
      vars.map(v => s""""${esc(v)}"""").mkString(",")}]},""")
    out.append(""""results":{"bindings":[""")
    val it = solutions.toLocalIterator()
    var first = true
    while (it.hasNext) {
      val r = it.next()
      if (!first) out.append(",")
      first = false
      out.append("{")
      var firstField = true
      vars.indices.foreach { i =>
        if (!r.isNullAt(i)) {
          if (!firstField) out.append(",")
          firstField = false
          val t = r.getStruct(i)
          out.append(s""""${esc(vars(i))}":${binding(
            t.getString(0), t.getInt(1), t.getString(2), t.getString(3))}""")
        }
      }
      out.append("}")
    }
    out.append("]}}")
  }

  /** Graph-form (CONSTRUCT/DESCRIBE) envelope: the lexical triple
    * projection has plain STRING columns, so every binding serializes
    * as a simple literal of its lexical form — kind information is not
    * tracked in that projection (documented adapter choice; the
    * benchmark workload issues only SELECT/ASK/updates).
    */
  def selectLexical(df: DataFrame): String = {
    val vars = df.columns
    val sb = new java.lang.StringBuilder
    sb.append(s"""{"head":{"vars":[${
      vars.map(v => s""""${esc(v)}"""").mkString(",")}]},""")
    sb.append(""""results":{"bindings":[""")
    val it = df.toLocalIterator()
    var first = true
    while (it.hasNext) {
      val r = it.next()
      if (!first) sb.append(",")
      first = false
      sb.append("{")
      var firstField = true
      vars.indices.foreach { i =>
        if (!r.isNullAt(i)) {
          if (!firstField) sb.append(",")
          firstField = false
          sb.append(s""""${esc(vars(i))}":${binding(r.getString(i), Rdf.LIT, "", "")}""")
        }
      }
      sb.append("}")
    }
    sb.append("]}}")
    sb.toString
  }

  /** Whole-document convenience wrapper over [[writeSelect]]. */
  def select(solutions: DataFrame): String = {
    val sb = new java.lang.StringBuilder
    writeSelect(solutions, sb)
    sb.toString
  }

  /** ASK envelope. */
  def ask(b: Boolean): String = s"""{"head":{},"boolean":$b}"""

  /** The reference's placeholder document emitted when query evaluation
    * fails (`GraphDBSystemAdapter.java:251-258`): a 1-var, 1-binding
    * literal "XXX" result, protocol-compatible with eval storage.
    */
  val failurePlaceholder: String =
    """{"head":{"vars":["xxx"]},"results":{"bindings":[{"xxx":{"type":"literal","value":"XXX"}}]}}"""
}
