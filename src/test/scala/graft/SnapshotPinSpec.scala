package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.ingest.QuadStore
import graft.sparql.{Compiler, Sparql, SparqlParser}

/** Store reads: every store file reads with a declared schema that
  * matches what parquet inference gives, building a snapshot fires no
  * Spark job, and a query's struct and id planes come from one pinned
  * segment set.
  */
class SnapshotPinSpec extends GraftSuite {

  /** Spark jobs that `body` starts on this thread. Suites share one
    * session across threads, so jobs are told apart by job group; a
    * marker job flushes the asynchronous listener bus before counting.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"pin-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerIds.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "pin")
      body
      sc.setJobGroup(s"$group-marker", "flush")
      spark.range(1).collect()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def strings(c: Compiler, sol: DataFrame): Seq[String] =
    c.toStrings(sol).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("a pin plans without Spark jobs and holds both planes across a commit") {
    val store = new QuadStore(spark, Files.createTempDirectory("pin").toString)
    store.AutoCompactSegments = 0
    store.AutoCompactTombstones = 0
    store.insertData("""INSERT DATA { GRAPH <ga> { <s:1> <p:x> "a" . <s:2> <p:x> "b" . } }""")
    store.compact()
    (3 to 5).foreach(i =>
      store.insertData(s"""INSERT DATA { GRAPH <gb> { <s:$i> <p:x> "v$i" . } }"""))
    store.executeUpdate("""DELETE DATA { GRAPH <ga> { <s:1> <p:x> "a" . } }""")

    // compacted + 3 positive segments + 1 tombstone, all read with
    // declared schemas: no schema-inference job
    assert(jobsOf { store.snapshot(); store.snapshotEncoded() } == 0)
    assert(jobsOf { store.pin() } == 0)

    val op = SparqlParser.parse("SELECT ?s ?o WHERE { ?s <p:x> ?o }").op
    val (quads, enc) = store.pin()
    assert(enc.isDefined)
    val structC = new Compiler(spark, quads)
    val idC = new Compiler(spark, quads, encoded = enc)
    val structSol = structC.compile(op)
    val idSol = idC.compile(op)
    store.insertData("""INSERT DATA { GRAPH <gb> { <s:9> <p:x> "late" . } }""")
    val before = Seq("s:2|b", "s:3|v3", "s:4|v4", "s:5|v5")
    assert(strings(structC, structSol) == before, "struct plane saw a later commit")
    assert(strings(idC, idSol) == before, "id plane saw a later commit")
    val (now, _) = store.pin()
    assert(now.count() == 5)
  }

  test("declared store schemas equal parquet inference on every commit path") {
    val d = Files.createTempDirectory("pin-schema")
    Files.writeString(d.resolve("v.ttl"), """
      ex:Widget rdfs:subClassOf ex:Thing .
      ex:w1 a ex:Widget ; ex:label "w1"@en ; ex:size 3 .
    """)
    val dir = d.resolve("store")
    val store = new QuadStore(spark, dir.toString)
    store.AutoCompactSegments = 0
    store.AutoCompactTombstones = 0
    store.loadVersion(Seq(d.resolve("v.ttl").toString))
    store.insertData("""INSERT DATA { GRAPH <gs> { <s:1> <p:x> "a" . <s:2> <p:x> "2"^^<xsd:integer> . } }""")
    store.executeUpdate("""INSERT { GRAPH <gm> { ?s <p:y> ?o } } WHERE { ?s <p:x> ?o }""")
    store.materializeInference()
    store.executeUpdate("""DELETE DATA { GRAPH <gs> { <s:1> <p:x> "a" . } }""")
    val text = """SELECT ?s ?p ?o WHERE { ?s ?p ?o }"""
    def answers(enc: Option[graft.core.EncodedQuads]) =
      Sparql.query(spark, store.snapshot(), text, encoded = enc)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(answers(store.snapshotEncoded()) == answers(None))
    store.compact()

    def files(): Seq[Path] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.filter(p => p.getFileName.toString.startsWith("seg-"))
        .toSeq.sortBy(_.toString)
      finally ls.close()
    }
    val names = files().map(_.getFileName.toString)
    for (kind <- Seq("seg-v0", "seg-ins-", "seg-modins-", "seg-inf-", "seg-del-", "seg-compact-"))
      assert(names.exists(n => n.startsWith(kind) && !n.contains("-enc") && !n.contains("-dict")),
        s"no $kind segment in $names")
    assert(names.exists(n => n.startsWith("seg-del-") && n.endsWith("-enc")),
      "no negative sidecar")
    assert(names.count(_.endsWith("-dict")) == names.count(n => !n.startsWith("seg-del-") &&
      !n.endsWith("-enc") && !n.endsWith("-dict")))
    for (f <- files()) {
      val name = f.getFileName.toString
      val inferred = spark.read.parquet(f.toString).schema
      val declared = spark.read.schema(store.schemaOf(name)).parquet(f.toString).schema
      assert(declared == inferred, s"$name: declared $declared, inferred $inferred")
    }

    assert(answers(store.snapshotEncoded()) == answers(None))
    assert(answers(None).nonEmpty)
  }
}
