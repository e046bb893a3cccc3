package graft.perfbench

import graft.spark.{TokenRow, TokenTableGen}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A TPC-H `lineitem` row (the 11 columns of the repo's test data). */
final case class LineItem(
    l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)

/** Seeded inputs. The seed only moves the generators' row-index offset and
  * the arguments of the calls, so the engine sees ordinary inputs. */
object Inputs {

  /** Row-index offset for a seed: spreads seeds over disjoint row ranges. */
  def rowOffset(seed: Long): Long =
    java.lang.Math.floorMod(TokenTableGen.splitmix64(seed), 100000000L) * 1000L

  def tokenRows(spark: SparkSession, from: Long, n: Long, parts: Int): Dataset[TokenRow] = {
    import spark.implicits._
    spark.range(from, from + n, 1L, parts).as[Long].mapPartitions(_.map(TokenTableGen.genRow))
  }

  /** Row index a generated doc_id encodes (`<source>/<index>`). */
  def indexOf(docId: String): Long = docId.substring(docId.indexOf('/') + 1).toLong

  private val Flags = IndexedSeq("A", "N", "R")
  private val Statuses = IndexedSeq("F", "O")
  private val Day = 86400000L
  private val Epoch1992 = 694310400000L // 1992-01-02 UTC

  def lineItem(i: Long): LineItem = {
    def h(k: Long): Long = TokenTableGen.splitmix64(TokenTableGen.splitmix64(i) + k) >>> 1
    val qty = (h(3) % 50 + 1).toDouble
    val price = math.round(qty * (900.0 + (h(4) % 100000) / 100.0) * 100) / 100.0
    LineItem(
      l_orderkey = i / 4 + 1,
      l_partkey = h(1) % 200000 + 1,
      l_suppkey = h(2) % 10000 + 1,
      l_linenumber = (i % 4).toInt + 1,
      l_quantity = qty,
      l_extendedprice = price,
      l_discount = (h(5) % 11) / 100.0,
      l_tax = (h(6) % 9) / 100.0,
      l_returnflag = Flags((h(7) % 3).toInt),
      l_linestatus = Statuses((h(8) % 2).toInt),
      l_shipdate = new java.sql.Timestamp(Epoch1992 + (h(9) % 2400) * Day))
  }

  def lineItems(spark: SparkSession, from: Long, n: Long, parts: Int): Dataset[LineItem] = {
    import spark.implicits._
    spark.range(from, from + n, 1L, parts).as[Long].mapPartitions(_.map(lineItem))
  }

  /** Order-independent fingerprint of a row set: row count and the XOR of
    * a 64-bit hash of each row. */
  def fingerprint(cols: String*): Seq[Column] =
    Seq(count(lit(1)).as("rows"), bit_xor(xxhash64(cols.map(col): _*)).as("fp"))

  /** Fingerprint of a token row set, with its token count. */
  val TokenFingerprint: Seq[Column] =
    fingerprint("doc_id", "tokens", "source") :+ sum(col("n_tok")).as("tokens")

  def fp(df: DataFrame, aggs: Seq[Column]): Row = df.agg(aggs.head, aggs.tail: _*).head()

  /** Deletes a directory tree inside the run's work directory. */
  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
    f.delete()
  }

  /** Total size of the parquet files under `path`. */
  def duBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => duBytes(c.getPath)).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
  }
}
