package graft.sparql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Front door of the SPARQL engine: text → parse → algebra → DataFrame.
  *
  * Mirrors the reference's single query entry point
  * (`prepareTupleQuery(QueryLanguage.SPARQL, queryString)` at
  * `GraphDBSystemAdapter.java:246`), with Spark executors playing the
  * role of the GraphDB server process (SURVEY §3.1).
  */
object Sparql {

  // ---- SERVICE endpoint registry ------------------------------------
  // Federation without a transport: `SERVICE <iri> {…}` resolves the
  // endpoint IRI against in-process stores registered here (algebra
  // parity with GraphDB's RDF4J federation behind
  // `GraphDBSystemAdapter.java:246`); unregistered IRIs fail fast in
  // the compiler. Registration is process-wide, like a federation
  // catalog.
  private val services =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Register a quads DataFrame as the in-process SPARQL endpoint
    * behind `iri`; subsequent `SERVICE <iri> { … }` blocks evaluate
    * against it.
    */
  def registerService(iri: String, quads: DataFrame): Unit =
    services.put(iri, quads)

  def unregisterService(iri: String): Unit = services.remove(iri)

  private[sparql] def serviceQuads(iri: String): Option[DataFrame] =
    Option(services.get(iri))

  /** Bound-join threshold: a `local ⋈ SERVICE` join ships the local
    * side's distinct shared bindings into the endpoint sub-query as a
    * VALUES block when there are at most this many (FedX-style; see
    * `Compiler.boundServiceJoin`). 0 disables the optimization —
    * useful for equivalence testing against the ship-whole-relation
    * plan. The count gate keeps the driver-collected VALUES block
    * bounded at scale; beyond it the whole-relation join is the right
    * plan anyway (the restriction would be as big as the input).
    */
  @volatile var boundJoinMaxKeys: Long = 10000L

  /** Diagnostic counter: number of SERVICE joins that took the
    * bound-join (VALUES-injection) path — lets tests assert the
    * optimization actually fired rather than silently falling back.
    */
  val serviceBoundJoins = new java.util.concurrent.atomic.AtomicLong()

  /** Telemetry: compilations of a correlated FILTER [NOT] EXISTS that
    * took the id-plane decorrelated join (8-byte keys, no probe-side
    * dictionary decode) instead of the struct plane — lets specs pin
    * that the r14 fast path actually fired rather than silently
    * falling back.
    */
  val corrIdExistsJoins = new java.util.concurrent.atomic.AtomicLong()

  /** Evaluated form of a parsed query — the ONE place the four query
    * forms dispatch to the compiler (form-specific extras included:
    * CONSTRUCT template vars and DESCRIBE targets feed the late-
    * materialization analysis). Every front door — the DataFrame
    * facade, the JSON adapter, the result-format switch — maps this
    * into its own envelope, so the wiring cannot drift between them.
    */
  sealed trait Evaled
  final case class AskResult(value: Boolean) extends Evaled
  /** term-struct solution table of a SELECT */
  final case class SelectResult(solutions: DataFrame) extends Evaled
  /** lexical-triple graph of a CONSTRUCT/DESCRIBE */
  final case class GraphResult(triples: DataFrame) extends Evaled

  def evaluate(c: Compiler, parsed: SparqlParser.Query): Evaled =
    if (parsed.isAsk)
      AskResult(c.ask(parsed.op).head().getString(0) == "true")
    else (parsed.construct, parsed.describe) match {
      case (Some(template), _) => GraphResult(c.construct(
        c.compile(parsed.op, Algebra.templateVars(template)), template))
      case (_, Some(targets)) => GraphResult(c.describe(
        c.compile(parsed.op,
          targets.collect { case Algebra.V(v) => v }.toSet), targets))
      case _ => SelectResult(c.compile(parsed.op))
    }

  /** SELECT/ASK → result DataFrame with one STRING column per
    * projected variable (ASK: single column `ask`). Supplying an
    * id-encoded view (`encoded`) routes simple BGPs through long-id
    * joins with a result-edge dictionary decode.
    */
  def query(spark: SparkSession, quads: DataFrame, text: String,
      stats: Map[String, Long] = Map.empty,
      encoded: Option[graft.core.EncodedQuads] = None,
      statsCap: Int = PredicateStatsCap): DataFrame = {
    val parsed = SparqlParser.parse(text)
    frame(spark, new Compiler(spark, quads, stats, parsed.fromGraphs,
      parsed.fromNamed, encoded, statsCap = statsCap), parsed)
  }

  /** [[evaluate]] in [[query]]'s result-DataFrame form. */
  def frame(spark: SparkSession, c: Compiler, parsed: SparqlParser.Query): DataFrame =
    evaluate(c, parsed) match {
      case AskResult(b) => spark.range(1)
        .select(org.apache.spark.sql.functions.lit(if (b) "true" else "false").as("ask"))
      case SelectResult(sol) => c.toStrings(sol)
      case GraphResult(triples) => triples
    }

  /** Compile to term-struct solutions (engine-internal form). */
  def solutions(spark: SparkSession, quads: DataFrame, text: String): DataFrame = {
    val parsed = SparqlParser.parse(text)
    new Compiler(spark, quads,
      fromGraphs = parsed.fromGraphs, fromNamed = parsed.fromNamed)
      .compile(parsed.op)
  }

  /** Per-predicate statement counts for the join-order estimator
    * (the statistics role of the reference's `repo-config.ttl:46`),
    * BOUNDED at `cap` entries: only the top-`cap` predicates by count
    * collect to the driver (a distributed top-N —
    * TakeOrderedAndProject — never a full-vocabulary collect), so
    * driver state and the broadcast stay O(cap) even on a
    * pathological 10⁷-distinct-predicate dataset. Real predicate
    * vocabularies (10²–10⁴) sit under the cap and collect exactly as
    * before, keeping every join order unchanged; a predicate outside
    * the capped map estimates via the compiler's tail default, which
    * the cap cutoff bounds from above (every uncollected count ≤ the
    * smallest collected one).
    */
  /** Default stats cap — the compiler keys its tail estimate off this
    * (a map of exactly this size is treated as possibly capped; a
    * smaller one as a complete vocabulary).
    */
  val PredicateStatsCap = 10000

  def predicateStats(quads: DataFrame,
      cap: Int = PredicateStatsCap): Map[String, Long] = {
    val pc = quads.groupBy(col("p")("lex").as("plex")).count()
    pc.orderBy(col("count").desc, col("plex").asc).limit(cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
