package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * key), so the same seed always yields the same frames, and an oracle
  * can regenerate any wave without reading the program's tables.
  */
final class Gen(spark: SparkSession, seed: Long) {

  /** A 64-bit hash of the seed, a salt naming the use, and `cols`. */
  def h(salt: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, m). */
  def pick(salt: Int, m: Int, cols: Column*): Column = pmod(h(salt, cols: _*), lit(m.toLong))

  /** Keeps about `permille`/1000 of the rows, chosen by `cols`. */
  def sample(salt: Int, permille: Int, cols: Column*): Column = pick(salt, 1000, cols: _*) < permille

  // --- lineitem-shaped rows: key (l_orderkey, l_linenumber), 4 lines per order

  val LinesPerOrder = 4

  /** Keys of orders `lo..hi` (inclusive). */
  def lineKeys(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id").as("l_orderkey"),
      explode(sequence(lit(1), lit(LinesPerOrder))).as("l_linenumber"))

  /** Full lineitem rows for `keys`; `rev` tags the revision that wrote them. */
  def lineRows(keys: DataFrame, rev: Int): DataFrame = lineRows(keys, lit(rev))

  /** As above, with the revision an int column of `keys`, so one plan can
    * generate many revisions. */
  def lineRows(keys: DataFrame, rev: Column): DataFrame = {
    val k = Seq(col("l_orderkey"), col("l_linenumber"))
    val kr = k :+ rev
    keys.select(k ++ Seq(
      (pick(1, 20000, k: _*) + 1).as("l_partkey"),
      (pick(2, 1000, k: _*) + 1).as("l_suppkey"),
      (pick(3, 50, kr: _*) + 1).cast("double").as("l_quantity"),
      ((pick(4, 10000000, kr: _*) + 90000).cast("decimal(12,2)") / 100)
        .cast("decimal(12,2)").as("l_extendedprice"),
      (pick(5, 11, kr: _*).cast("double") / 100).as("l_discount"),
      (pick(6, 9, kr: _*).cast("double") / 100).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), pick(7, 3, kr: _*).cast("int") + 1)
        .as("l_returnflag"),
      date_add(lit(java.sql.Date.valueOf("1993-01-01")), pick(8, 2500, kr: _*).cast("int"))
        .as("l_shipdate"),
      concat(lit("c"), pick(9, 100000, kr: _*).cast("string")).as("l_comment"),
      rev.as("l_rev")): _*)
  }

  // --- orders / customer

  /** Order rows for `keys`; customers are fixed per order, prices vary by `rev`. */
  def orderRows(keys: DataFrame, rev: Int, nCust: Long): DataFrame =
    orderRows(keys, lit(rev), nCust)

  /** As above, with the revision an int column of `keys`. */
  def orderRows(keys: DataFrame, rev: Column, nCust: Long): DataFrame = {
    val k = col("o_orderkey")
    keys.select(k,
      (pmod(h(11, k), lit(nCust)) + 1).as("o_custkey"),
      ((pick(12, 50000000, k, rev) + 100000).cast("decimal(12,2)") / 100)
        .cast("decimal(12,2)").as("o_totalprice"),
      element_at(array(lit("F"), lit("O"), lit("P")), pick(13, 3, k, rev).cast("int") + 1)
        .as("o_orderstatus"),
      rev.as("o_rev"))
  }

  def customers(n: Long): DataFrame = {
    val k = col("c_custkey")
    spark.range(1, n + 1).select(col("id").as("c_custkey"))
      .select(k, concat(lit("Customer#"), k.cast("string")).as("c_name"),
        pick(21, 25, k).cast("int").as("c_nationkey"),
        ((pick(22, 1100000, k) - 100000).cast("decimal(12,2)") / 100)
          .cast("decimal(12,2)").as("c_acctbal"))
  }

  // --- documents with planted near-duplicates

  /** `n` documents of 20..80 words over a 500-word vocabulary. A quarter
    * are copies of an earlier document with about one word in twenty
    * replaced, so near-duplicate clusters exist at every seed. */
  def documents(n: Long): DataFrame = {
    val id = col("doc_id")
    spark.range(0, n).select(col("id").as("doc_id"))
      .withColumn("src", when(pick(31, 4, id) === 0 && id > 0, pmod(h(32, id), id))
        .otherwise(id))
      .withColumn("len", (pick(33, 61, col("src")) + 20).cast("int"))
      .withColumn("text", array_join(transform(sequence(lit(1), col("len")), i =>
        concat(lit("w"), when(pick(34, 20, id, i) === 0 && col("src") =!= id,
          pick(35, 500, id, i)).otherwise(pick(36, 500, col("src"), i)).cast("string"))), " "))
      .select("doc_id", "text")
  }

  // --- clustered embeddings

  val Dim = 64

  /** `n` float vectors in ten clusters: a per-cluster centroid plus noise. */
  def embeddings(n: Long): DataFrame = {
    val id = col("vec_id")
    spark.range(0, n).select(col("id").as("vec_id"))
      .withColumn("label", pick(41, 10, id).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(Dim - 1)), j =>
        ((pick(42, 2001, col("label"), j) - 1000).cast("double") / 1000 +
          (pick(43, 2001, id, j) - 1000).cast("double") / 1000 * 0.3).cast("float")))
      .select("vec_id", "embedding", "label")
  }
}
