package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.QuadStore
import graft.rio.SparqlJson
import graft.sparql.Sparql

/** User-facing facade of the engine — the surface a user of the
  * reference system needs to switch: open a store, bulk-load Turtle,
  * run SPARQL updates, materialize inference at load time, and query
  * (SELECT / ASK / CONSTRUCT / DESCRIBE) with results as DataFrames or
  * W3C SPARQL-JSON. Everything delegates to the real modules; this
  * object only fixes the wiring (snapshot per query = the reference's
  * repository-connection read isolation,
  * `GraphDBSystemAdapter.java:246,281`).
  *
  * {{{
  * val g = Graft.open(spark, "/data/mystore")
  * g.load(Seq("/data/dump1.ttl", "/data/dump2.ttl"))
  * g.update("INSERT DATA { GRAPH <g:x> { ex:a ex:p ex:b . } }")
  * g.materialize()                      // load-time OWL-Horst closure
  * val df = g.query("SELECT ?s WHERE { ?s a ex:Widget }")
  * val json = g.queryJson("SELECT ?s WHERE { ?s ?p ?o } LIMIT 10")
  * }}}
  */
object Graft {

  def open(spark: SparkSession, dir: String): Graft = new Graft(spark, dir)

  /** One-off query over an existing quads DataFrame (no store). */
  def query(spark: SparkSession, quads: DataFrame, text: String): DataFrame =
    Sparql.query(spark, quads, text)
}

final class Graft private[graft] (spark: SparkSession, dir: String) {

  val store = new QuadStore(spark, dir)

  /** Bulk-load Turtle files as one atomic versioned graph; returns the
    * graph IRI (`http://graph.version.N`).
    */
  def load(files: Seq[String]): String = store.loadVersion(files)

  /** Read RDF documents of any supported format into a quads
    * DataFrame without committing them — per-path format dispatch
    * shared with the `LOAD` update ([[graft.rio.Rio.readAuto]]):
    * N-Triples/N-Quads (`.nt`/`.nq`, line-splittable), TriG
    * (`.trig`), Turtle otherwise; mixed lists are fine. Commit via
    * `LOAD <doc>` updates or [[load]] for Turtle versions.
    */
  def read(paths: Seq[String], defaultGraph: String = "urn:default"): DataFrame =
    graft.rio.Rio.readAuto(spark, paths, defaultGraph)

  /** Any supported SPARQL Update: INSERT/DELETE DATA, DELETE WHERE,
    * general `DELETE/INSERT … WHERE` (+`WITH`), CLEAR/DROP GRAPH,
    * COPY/MOVE/ADD, `LOAD [SILENT] … [INTO GRAPH]`, INSERT…WITH
    * rewrite.
    */
  def update(text: String): Unit = store.executeUpdate(text)

  /** Materialize OWL-Horst entailments into the store (load-time
    * inference; queries afterwards read explicit ∪ inferred).
    */
  def materialize(): Unit = store.materializeInference()

  /** Dump the CURRENT snapshot as partitioned N-Quads text — the
    * export path of the store (GraphDB's repository export role). A
    * map-only distributed write at any store size; the files reload
    * with [[load]] / [[graft.rio.NQuads.read]].
    */
  def exportNQuads(path: String): Unit =
    graft.rio.NQuads.write(store.snapshot(), path)

  /** SELECT/ASK/CONSTRUCT/DESCRIBE over the current snapshot. A
    * compacted store also serves its id-encoded sidecar, so simple
    * BGPs join on 8-byte term ids and decode at the result edge.
    */
  def query(text: String): DataFrame = {
    val parsed = graft.sparql.SparqlParser.parse(text)
    Sparql.frame(spark, store.compiler(parsed), parsed)
  }

  /** W3C SPARQL 1.1 Results JSON for any query form: SELECT bindings
    * (streamed serialization), the ASK boolean envelope, and a
    * lexical-triple envelope for CONSTRUCT/DESCRIBE.
    */
  def queryJson(text: String): String = queryResults(text, "json")

  /** Serialize a query's results in any of the four W3C result
    * formats — `"json"`, `"xml"`, `"csv"`, `"tsv"` (the writer family
    * the reference's RDF4J stack serves, `GraphDBSystemAdapter.java:32`).
    * SELECT works in all four; ASK has JSON/XML boolean envelopes;
    * CONSTRUCT/DESCRIBE keep the JSON lexical-triple envelope (they
    * produce RDF graphs, not solution tables — other formats fail
    * loudly rather than emit a lossy imitation).
    */
  def queryResults(text: String, format: String): String = {
    val parsed = graft.sparql.SparqlParser.parse(text)
    val fmt = format.toLowerCase
    // validate the (form, format) combination BEFORE compiling — an
    // unsupported format must not cost a Spark job just to throw
    val isGraph = parsed.construct.isDefined || parsed.describe.isDefined
    val allowed =
      if (parsed.isAsk) Set("json", "xml")
      else if (isGraph) Set("json")
      else Set("json", "xml", "csv", "tsv")
    if (!allowed(fmt)) throw new IllegalArgumentException(
      if (isGraph)
        "CONSTRUCT/DESCRIBE produce RDF graphs — only the json " +
          "lexical-triple envelope is served; export triples via the " +
          "DataFrame form instead"
      else s"${if (parsed.isAsk) "ASK" else "SELECT"} results have no " +
        s"'$fmt' serialization (supported: ${allowed.toSeq.sorted.mkString(", ")})")
    Sparql.evaluate(store.compiler(parsed), parsed) match {
      case Sparql.AskResult(b) if fmt == "xml" => graft.rio.SparqlXml.ask(b)
      case Sparql.SelectResult(sol) if fmt == "xml" => graft.rio.SparqlXml.select(sol)
      case Sparql.SelectResult(sol) if fmt == "csv" => graft.rio.SparqlCsvTsv.csv(sol)
      case Sparql.SelectResult(sol) if fmt == "tsv" => graft.rio.SparqlCsvTsv.tsv(sol)
      case json => SparqlJson.result(json)
    }
  }

  /** DISTRIBUTED SELECT-result export: partitioned NDJSON bindings
    * (`format = "json"`, one W3C binding object per line +
    * `_head.json` manifest) or RFC-4180 CSV rows (`"csv"`,
    * + `_header.csv`) — the `NQuads.lineCol` treatment applied to the
    * SELECT formats, a map-only write at any result size. The
    * streamed [[queryResults]] single-document writers remain the
    * protocol-envelope path. SELECT only: ASK/CONSTRUCT/DESCRIBE
    * results are a boolean or an RDF graph, not a bindings table.
    */
  def exportQueryResults(text: String, path: String,
      format: String = "json"): Unit = {
    val parsed = graft.sparql.SparqlParser.parse(text)
    require(!parsed.isAsk && parsed.construct.isEmpty &&
      parsed.describe.isEmpty,
      "exportQueryResults serves SELECT bindings; use queryResults for " +
        "ASK envelopes and exportNQuads/the DataFrame form for graphs")
    val sol = query(text)
    format.toLowerCase match {
      case "json" => graft.rio.SparqlDistExport.writeJsonBindings(sol, path)
      case "csv" => graft.rio.SparqlDistExport.writeCsvRows(sol, path)
      case f => throw new IllegalArgumentException(
        s"distributed export supports json, csv (got '$f')")
    }
  }
}
