package perfbench

import scala.util.Random

/** One SPARQL task text, tagged with the template it came from. */
final case class Instance(template: String, text: String)

/** Query templates of the MOCHA task streams. Each is modeled on an
  * oracle-verified `r_*` gate of `graft.SparqlQueries` and has at most
  * three parameter values; the seed picks the value and the order.
  */
object Templates {

  private val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")

  /** name -> parameterised texts */
  val read: Seq[(String, Seq[String])] = Seq(
    "bgp_join" -> segs.map(s => s"""
      SELECT ?c ?nname WHERE {
        ?c a :Customer . ?c :mktsegment "$s" . ?c :nation ?n . ?n :name ?nname }"""),
    "bgp_filter" -> Seq(9000, 9500, 9900).map(x => s"""
      SELECT ?c ?bal WHERE {
        ?c a :Customer . ?c :acctbal ?bal . FILTER(?bal >= $x) }"""),
    "optional" -> Seq(0, 5000, 9000).map(x => s"""
      SELECT ?s ?bal WHERE {
        ?s a :Supplier .
        OPTIONAL { ?s :acctbal ?bal . FILTER(?bal > $x) } }"""),
    "union" -> Seq("""
      SELECT ?name WHERE {
        { ?n a :Nation . ?n :name ?name } UNION { ?r a :Region . ?r :name ?name } }"""),
    "minus" -> Seq("ASIA", "EUROPE", "AFRICA").map(r => s"""
      SELECT ?c WHERE {
        ?c a :Customer .
        MINUS { ?c :nation ?n . ?n :region ?r . ?r :name "$r" . } }"""),
    "not_exists" -> Seq("P", "F", "O").map(st => s"""
      SELECT ?c WHERE {
        ?c a :Customer .
        FILTER NOT EXISTS { ?o :custkey ?c . ?o :orderstatus "$st" } }"""),
    "path_seq" -> segs.map(s => s"""
      SELECT ?c ?rn WHERE { ?c :mktsegment "$s" . ?c :nation/:region/:name ?rn }"""),
    "path_closure" -> Seq(":Thing", ":Place", ":Agent").map(c => s"""
      SELECT DISTINCT ?t WHERE { ?t rdfs:subClassOf+ $c }"""),
    "agg_group" -> segs.map(s => s"""
      SELECT ?nname (COUNT(*) AS ?n_cust) (MAX(?bal) AS ?max_bal) WHERE {
        ?c a :Customer . ?c :mktsegment "$s" . ?c :nation ?nt . ?nt :name ?nname .
        ?c :acctbal ?bal .
      } GROUP BY ?nname"""),
    "topk" -> Seq("F", "O", "P").map(st => s"""
      SELECT ?o ?price WHERE { ?o :orderstatus "$st" . ?o :totalprice ?price }
      ORDER BY DESC(?price) ?o LIMIT 10"""),
    "orders_by_status" -> Seq(3, 7, 12).map(n => s"""
      SELECT ?st (COUNT(?o) AS ?n) WHERE {
        ?o :orderstatus ?st . ?o :custkey ?c . ?c :nation nat:$n } GROUP BY ?st"""),
    "infer_types" -> Seq("""
      SELECT ?t (COUNT(*) AS ?n) WHERE { ?x a ?t } GROUP BY ?t"""),
    "ask" -> Seq("ASIA", "EUROPE", "ATLANTIS").map(n => s"""
      ASK { ?r :name "$n" }"""))

  /** The write stream's read templates, in stream order. Inserts cannot
    * change their answers: they read customers, nations and regions,
    * never orders.
    */
  val streamReads: Seq[String] = Seq("bgp_join", "agg_group", "path_seq", "bgp_filter")

  /** Committed task-channel insert batches carry this marker predicate. */
  val BatchPred = ":benchBatch"
  /** Data-channel updates carry this one, so they never touch `fresh_count`. */
  val StreamPred = ":benchStream"
  val MarkersPerBatch = 4

  val freshCount: Instance = Instance("fresh_count", s"""
      SELECT (COUNT(*) AS ?n) WHERE { ?o <$BatchPred> ?b }""")

  /** One round = every template once, with a seeded parameter value, in
    * seeded order. A run is whole rounds, so every seed gives the same
    * template mix.
    */
  def round(r: Random): Seq[Instance] = r.shuffle(read).map(pick(r))

  /** The write stream's round: [[streamReads]] then `fresh_count`, in a
    * fixed order, because reads slow down as segments pile up.
    */
  def streamRound(r: Random): Seq[Instance] =
    streamReads.map(n => pick(r)(n -> read.toMap.apply(n))) :+ freshCount

  private def pick(r: Random)(t: (String, Seq[String])): Instance =
    Instance(t._1, t._2(r.nextInt(t._2.size)))

  /** `INSERT DATA` task: 4 new orders of 5 triples each, 20 triples. */
  def insertBatch(batch: Int, r: Random, nCustomers: Int): String = {
    val body = (0 until MarkersPerBatch).map { j =>
      val o = s"<ord:b$batch-$j>"
      val price = f"${1000 + r.nextInt(400000)}%d.${r.nextInt(100)}%02d"
      s"""$o <rdf:type> <:Order> .
         |$o <:custkey> <cust:${1 + r.nextInt(nCustomers)}> .
         |$o <:totalprice> "$price"^^<xsd:decimal> .
         |$o <:orderstatus> "O" .
         |$o <$BatchPred> "$batch" .""".stripMargin
    }.mkString("\n")
    s"INSERT DATA { GRAPH <http://graph.stream.tasks> {\n$body\n} }"
  }

  /** Data-channel update in the protocol's `INSERT { … } WITH <g>` form. */
  def streamUpdate(k: Int, r: Random, nCustomers: Int): String = {
    val s = s"<upd:$k>"
    s"""INSERT { $s <:custkey> <cust:${1 + r.nextInt(nCustomers)}> .
       |$s <$StreamPred> "$k" . } WITH <http://graph.stream.updates>""".stripMargin
  }

  /** Triples one [[insertBatch]] / one [[streamUpdate]] adds. */
  val TriplesPerBatch: Int = 5 * MarkersPerBatch
  val TriplesPerUpdate = 2
}
