package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Date

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped source tables plus their MOCHA framing.
  *
  * The five tables `graft.rdf.TpchRdf` maps to RDF (region, nation,
  * customer, supplier, orders) are drawn from `seed` at scale factor
  * `sf` (sf0.01 = 1,500 customers, 15,000 orders, 100 suppliers) and
  * written as parquet under `dir`, in the column layout
  * `graft.core.Tables` reads. The adapter never sees the tables: it
  * receives only the data frames built from their N-Triples rendering.
  */
final class Gen(spark: SparkSession, val seed: Long, val sf: Double, val dir: String) {

  val regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val nCustomers: Int = math.max(20, math.round(150000 * sf).toInt)
  val nOrders: Int = nCustomers * 10
  val nSuppliers: Int = math.max(5, math.round(10000 * sf).toInt)

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Draw and write the five tables. */
  def writeTables(): Unit = {
    val r = new Random(seed)
    write("region", StructType(Seq(
      StructField("r_regionkey", LongType), StructField("r_name", StringType))),
      regions.zipWithIndex.map { case (n, i) => Row(i.toLong, n) })
    write("nation", StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType))),
      nations.zipWithIndex.map { case ((n, rk), i) => Row(i.toLong, n, rk.toLong) })
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (1 to nCustomers).map { k =>
        Row(k.toLong, f"Customer#$k%09d", r.nextInt(25).toLong,
          money(r, -999.99, 9999.99), segments(r.nextInt(segments.size)))
      })
    write("supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", LongType), StructField("s_acctbal", DoubleType))),
      (1 to nSuppliers).map { k =>
        Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25).toLong, money(r, -999.99, 9999.99))
      })
    val day0 = Date.valueOf("1992-01-01").toLocalDate
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType))),
      (1 to nOrders).map { k =>
        val u = r.nextDouble()
        val status = if (u < 0.49) "F" else if (u < 0.98) "O" else "P"
        Row(k.toLong, (1 + r.nextInt(nCustomers)).toLong, status,
          money(r, 900.0, 450000.0), Date.valueOf(day0.plusDays(r.nextInt(2400).toLong)))
      })
  }

  /** The RDF dataset as the repo derives it from the tables. */
  def quads(): org.apache.spark.sql.DataFrame = graft.rdf.TpchRdf.graphDf(spark, dir)

  /** N-Triples lines of the dataset (graph labels dropped), split into
    * the three versioned bulk phases: non-order tables, orders with
    * key <= n/2, the remaining orders. Sorted, so a seed fixes the
    * exact bytes.
    */
  def phases(): Seq[Seq[String]] = {
    val q = quads()
    val lines = q.select(col("g"), col("s")("lex").as("sl"),
        graft.rio.NQuads.lineCol(lit(""), q("s"), q("p"), q("o")).as("line"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val half = nOrders / 2
    def orderKey(s: String): Int = s.stripPrefix("ord:").toInt
    val (ord, rest) = lines.partition(_._1 == "g:orders")
    val (a, b) = ord.partition(t => orderKey(t._2) <= half)
    Seq(rest, a, b).map(_.map(_._3).sorted.toSeq)
  }

  /** Triples per bulk file: 5,000 at sf0.01, scaled with `sf`, so every
    * orders phase is split into more files (parse tasks) than 4 cores.
    */
  val triplesPerFile: Int = math.max(50, math.round(5000 * sf / 0.01).toInt)

  /** One data message per file: `[int len][fileName utf8][bytes]`. */
  def frames(phase: Int, lines: Seq[String]): Seq[Array[Byte]] =
    lines.grouped(triplesPerFile).zipWithIndex.map { case (chunk, i) =>
      val name = s"phase$phase/part-$i.nt".getBytes(UTF_8)
      val body = chunk.mkString("", "\n", "\n").getBytes(UTF_8)
      ByteBuffer.allocate(4 + name.length + body.length)
        .putInt(name.length).put(name).put(body).array()
    }.toSeq
}

object Gen {
  /** Command 151 payload: `[int nMessages][byte lastPhase]`. */
  def bulkFinished(nMessages: Int, last: Boolean): Array[Byte] =
    ByteBuffer.allocate(5).putInt(nMessages).put((if (last) 1 else 0).toByte).array()

  /** Result bytes of a framed task answer `[int idLen][id][int len][data]`. */
  def unframe(framed: Array[Byte]): String = {
    val buf = ByteBuffer.wrap(framed)
    buf.position(4 + buf.getInt())
    val data = new Array[Byte](buf.getInt())
    buf.get(data)
    new String(data, UTF_8)
  }
}
