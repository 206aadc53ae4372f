package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.KeyedTable

/** What a workload run gets: its own directory, its input scale, the
  * seed and the tracer that times its calls. */
final case class Ctx(spark: SparkSession, dir: String, scale: Double, seed: Long, tr: Tracer,
    warmup: Boolean = false) {
  val gen = new Gen(spark, seed)
  /** Whether to run step `step` (from 1). The warm-up runs `warm` steps,
    * just enough to pass every call type once. A timed run runs at least
    * `timed` steps, so every run has samples of each call type, then
    * goes on until the deadline, and stops only after a whole cycle of
    * `cycle` steps, so every run mixes the cycle's kinds of step in the
    * same proportion. */
  def more(step: Int, deadline: Long, timed: Int, warm: Int, cycle: Int = 1): Boolean =
    if (warmup) step <= warm
    else step <= timed || System.nanoTime() < deadline || (step - 1) % cycle != 0
  def n(full: Long): Long = math.max(1L, math.round(full * scale))
  /** Rows a wave changes: `permille`/1000 of `rows`, at least one. */
  def perWave(rows: Long, permille: Int): Long = math.max(1L, rows * permille / 1000)
  /** `ids` as a frame of one int column, `step`. */
  def stepsOf(ids: Seq[Int]): DataFrame = spark.createDataFrame(ids.map(Tuple1(_))).toDF("step")
  /** Writes `df`, every step's input tagged with its int column `step`,
    * to parquet under `path`, a partition per step, and returns a reader
    * of step `i`. Timed calls then get a parquet scan whose plan is alike
    * for every step, instead of generator expressions whose per-step
    * literals would make Spark compile new code inside the timed call;
    * and `df` is one plan with the step as a column, so set-up compiles
    * it once. A step with no rows reads as an empty frame. */
  def materialize(path: String, df: DataFrame): Int => DataFrame = {
    df.repartition(col("step")).write.partitionBy("step").parquet(path)
    val schema = df.drop("step").schema
    i => {
      val part = new java.io.File(s"$path/step=$i")
      if (part.isDirectory) spark.read.parquet(part.getPath)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }
  }
}

/** A workload prepares its inputs untimed, then returns the timed part,
  * which runs until the deadline (and at least a minimum number of
  * steps) and checks the program's outputs afterwards. */
trait Workload {
  def prepare(c: Ctx): Long => Unit
}

object Workload {
  val all: Map[String, Workload] =
    Map("keyed_churn" -> KeyedChurn, "join_agg_chain" -> JoinAggChain, "dedup_ann" -> DedupAnn)

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (now - t0) / 1e9

  /** Change rows (upserts plus deletes) the commit at `v` recorded. */
  def changedRows(kt: KeyedTable, v: Long): Long =
    kt.changeCountsBetween(v - 1, v).map { case (u, d, _, _) => u + d }.getOrElse(0L)

  /** Row count and an order-independent hash of every column. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** Keyed-table churn: bulk load in equal chunks, then small upsert and
  * delete commits, each followed by a change-feed tail read, point reads
  * and a time-travel point read. Exercises `store` only. */
object KeyedChurn extends Workload {
  import Workload._

  val Orders = 4000L       // 4 lines each: 16k rows
  val Chunks = 4           // load commits; the warm-up loads in 1
  val UpdatePermille = 10  // 1% of keys updated per upsert commit
  val InsertPer1000 = 5    // 0.5% new keys per upsert commit
  val DeletePermille = 2   // 0.2% of keys per delete commit
  val ReadPermille = 1     // 0.1% of keys per point read
  val ReadsPerWave = 1     // point reads after each commit; the first is repeated at the previous version
  val Cycle = 3            // waves per cycle: upsert, delete, upsert
  val MaxCycles = 3        // cycles whose inputs are written before timing
  val Keys = Seq("l_orderkey", "l_linenumber")

  def prepare(c: Ctx): Long => Unit = {
    import c._
    val orders = n(Orders)
    val inserts = math.max(1L, orders * InsertPer1000 / 1000)
    val input = s"$dir/input"
    val nChunks = if (warmup) 1 else Chunks
    val chunk = materialize(s"$input/chunks", gen.lineRows(gen.lineKeys(1, orders), 0)
      .withColumn("step", pmod(col("l_orderkey"), lit(nChunks)).cast("int")))
    val chunks = (0 until nChunks).map(chunk)
    val counted = spark.read.parquet(s"$input/chunks").groupBy("step").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val chunkRows = (0 until nChunks).map(counted)
    val schema = chunks.head.schema

    def isDelete(w: Int) = w % Cycle == 2
    // orders written by waves before w: the base plus each earlier wave's inserts
    def lastOrder(w: Int) = orders + inserts * (w - 1)
    // every wave's input, one plan per kind with the wave as a column: an
    // upsert updates ~1% of the keys so far and adds 0.5% new ones, a
    // delete removes ~0.2% of them
    val maxWaves = if (warmup) 2 else Cycle * MaxCycles
    val waves = 1 to maxWaves
    val step = col("step")
    val k = Keys.map(col) :+ step
    def lastOrderOf(w: Column) = lit(orders) + lit(inserts) * (w - 1)
    val upserts = materialize(s"$input/upserts", {
      val ws = stepsOf(waves.filterNot(isDelete))
      val updated = gen.lineKeys(1, lastOrder(maxWaves)).crossJoin(ws)
        .where(col("l_orderkey") <= lastOrderOf(step) && gen.sample(51, UpdatePermille, k: _*))
      val added = gen.lineKeys(orders + 1, lastOrder(maxWaves + 1)).crossJoin(ws)
        .where(col("l_orderkey") > lastOrderOf(step) && col("l_orderkey") <= lastOrderOf(step + 1))
      gen.lineRows(updated.unionByName(added), step).withColumn("step", col("l_rev"))
    })
    val deletes = materialize(s"$input/deletes",
      gen.lineKeys(1, lastOrder(maxWaves)).crossJoin(stepsOf(waves.filter(isDelete)))
        .where(col("l_orderkey") <= lastOrderOf(step) && gen.sample(52, DeletePermille, k: _*)))
    // point-read key set i is read in wave i / ReadsPerWave, among the keys that wave left
    val readSets = materialize(s"$input/reads",
      gen.lineKeys(1, lastOrder(maxWaves + 1))
        .crossJoin(stepsOf(waves.flatMap(w => (0 until ReadsPerWave).map(w * ReadsPerWave + _))))
        .where(col("l_orderkey") <= lastOrderOf(floor(step / ReadsPerWave) + 1) &&
          gen.sample(53, ReadPermille, k: _*)))

    deadline => {
      val kt = KeyedTable.create(spark, s"$dir/lineitem", schema, Keys, numBuckets = 8)
      val t0 = now
      chunks.zip(chunkRows).foreach { case (df, rows) =>
        tr.call("store.load_chunk", rows)(kt.upsert(df, uniqueKeys = true))
      }
      tr.value("e2e.bulk_s", secs(t0))
      tr.value("e2e.bulk_rows", chunkRows.sum.toDouble)

      var readRows = 0L
      var w = 1
      while (w <= maxWaves && more(w, deadline, timed = 2 * Cycle, warm = 2, cycle = Cycle)) {
        val before = kt.latestVersion
        val t1 = now
        val v =
          if (isDelete(w)) tr.call("store.delete")(kt.delete(deletes(w)))
          else tr.call("store.upsert")(kt.upsert(upserts(w), uniqueKeys = true))
        tr.sample("e2e.write", secs(t1))
        tr.rows(changedRows(kt, v))
        val feed = tr.call("store.feed_read")(kt.changesSince(before).collect())
        tr.sample("e2e.fresh", secs(t1))
        // the tail holds exactly the change rows the commit logged
        val logged = kt.changeCountsBetween(before, v).map { case (u, d, p, _) => u + d + p }
        val vi = feed.headOption.map(_.fieldIndex("_commit_version")).getOrElse(0)
        tr.check("feed_tail", logged.contains(feed.length.toLong) &&
          feed.forall(_.getLong(vi) == v), s"wave $w: ${feed.length} rows, log says $logged")

        (0 until ReadsPerWave).foreach { r =>
          val keys = readSets(w * ReadsPerWave + r)
          val t2 = now
          val got = tr.call("store.point_read")(kt.snapshotForKeys(keys).collect())
          tr.sample("e2e.read", secs(t2))
          readRows += got.length
          val asked = keys.collect().map(k => (k.getLong(0), k.getInt(1))).toSet
          tr.check("point_read_keys", got.forall(g => asked((g.getLong(0), g.getInt(1)))),
            s"wave $w returned a key it was not asked for")
          if (r == 0)
            tr.call("store.time_travel")(kt.snapshotForKeys(keys, version = before).collect())
        }
        w += 1
      }
      tr.value("steps", w - 1)
      tr.value("point_read_rows", readRows.toDouble)

      if (!warmup) {
        // latest-wins fold, in plain Spark, of every input the run committed
        val ran = col("step") < w
        val puts = spark.read.parquet(s"$input/chunks")
          .unionByName(spark.read.parquet(s"$input/upserts").where(ran))
          .drop("step").withColumn("__del", lit(false))
        val dels = spark.read.parquet(s"$input/deletes").where(ran)
          .select(Keys.map(col) :+ col("step").as("l_rev") :+ lit(true).as("__del"): _*)
        val expected = puts.unionByName(dels, allowMissingColumns = true)
          .withColumn("__n", row_number().over(
            Window.partitionBy(Keys.map(col): _*).orderBy(col("l_rev").desc)))
          .where(col("__n") === 1 && !col("__del")).drop("__n", "__del")
        val fresh = KeyedTable.forPath(spark, s"$dir/lineitem")
        val got = fingerprint(fresh.snapshot().select(schema.fieldNames.map(col): _*))
        val want = fingerprint(expected.select(schema.fieldNames.map(col): _*))
        tr.check("final_snapshot", got == want, s"snapshot $got, fold $want")
        tr.value("live_rows", got._1.toDouble)
        tr.value("live_bytes", fresh.liveManifestBytes.toDouble)
      }
    }
  }
}

/** Incremental join→agg freshness: `orders ⟕ customer` on custkey, then
  * `groupBy(c_nationkey)` with sum and count, drained stage by stage.
  * Catches up on the full source backlog, then runs waves that each
  * update 0.5% of orders in one commit and move 1% of customers to
  * another nation in a second, so a moved right-side row drives the
  * retraction path. After each wave the agg output is read. Exercises
  * `streaming` on top of `store`. */
object JoinAggChain extends Workload {
  import Workload._

  val Orders = 2000L
  val Customers = 200L
  val OrderPermille = 5     // of orders updated per wave, in one commit
  val CustomerPermille = 10 // of customers moved per wave, in a second commit
  val ResultReads = 10      // reads of the agg output after each wave (1 in the warm-up)
  val MaxWaves = 4          // waves whose inputs are written before timing

  def prepare(c: Ctx): Long => Unit = {
    import c._
    val nO = n(Orders); val nC = n(Customers)
    gen.orderRows(spark.range(1, nO + 1).select(col("id").as("o_orderkey")), 0, nC)
      .write.parquet(s"$dir/input/orders")
    gen.customers(nC).write.parquet(s"$dir/input/customer")
    val orders = spark.read.parquet(s"$dir/input/orders")
    val customers = spark.read.parquet(s"$dir/input/customer")
    val rows = Seq(orders.count(), customers.count())

    // every wave's input, written before timing: the n keys with the
    // lowest seeded hash per wave, so every wave changes as many rows
    val maxWaves = if (warmup) 1 else MaxWaves
    val step = col("step")
    def perWaveKeys(df: DataFrame, key: String, n: Long, salt: Int): DataFrame =
      df.crossJoin(stepsOf(1 to maxWaves))
        .withColumn("__r", row_number().over(
          Window.partitionBy(step).orderBy(gen.h(salt, col(key), step))))
        .where(col("__r") <= n).drop("__r")
    val orderWaves = materialize(s"$dir/input/order_waves", gen.orderRows(
      perWaveKeys(spark.range(1, nO + 1).select(col("id").as("o_orderkey")), "o_orderkey",
        perWave(nO, OrderPermille), 61), step, nC).withColumn("step", col("o_rev")))
    val customerWaves = materialize(s"$dir/input/customer_waves",
      perWaveKeys(gen.customers(nC), "c_custkey", perWave(nC, CustomerPermille), 62)
        .withColumn("c_nationkey",
          pmod(col("c_nationkey") + 1 + gen.pick(63, 24, col("c_custkey"), step), lit(25)).cast("int")))

    deadline => {
      import graft.streaming.Stream
      val oT = KeyedTable.create(spark, s"$dir/orders", orders.schema, Seq("o_orderkey"),
        numBuckets = 8)
      val cT = KeyedTable.create(spark, s"$dir/customer", customers.schema, Seq("c_custkey"),
        numBuckets = 8)
      val pipe = Stream.fromKeyedTable(oT)
        .join(Stream.fromKeyedTable(cT), "left")
        .on((l, r) => l("o_custkey") === r("c_custkey"))
        .groupByStaged(s"$dir/joined", "c_nationkey")
        .agg(sum("o_totalprice").as("total"), count(lit(1)).as("cnt"))
        .writeToPath(s"$dir/agg")
      require(pipe.handles.size == 2, s"expected a join and an agg stage, got ${pipe.handles.size}")
      // Pipeline.runIncremental() is exactly this upstream-first loop;
      // calling the handles one by one times each stage on its own
      def drain(prefix: String): Unit =
        pipe.handles.zip(Seq("join", "agg")).foreach { case (h, s) =>
          tr.call(s"$prefix.$s")(h.drainFn())
        }

      tr.call("streaming.source_commit", rows(0))(oT.upsert(orders, uniqueKeys = true))
      tr.call("streaming.source_commit", rows(1))(cT.upsert(customers, uniqueKeys = true))
      val t0 = now
      tr.call("streaming.catchup", rows.sum)(drain("streaming.catchup_stage"))
      tr.value("e2e.bulk_s", secs(t0))
      tr.value("e2e.bulk_rows", rows.sum.toDouble)

      val joinedT = KeyedTable.forPath(spark, s"$dir/joined")
      val aggT = KeyedTable.forPath(spark, s"$dir/agg")
      val outBefore = Seq(joinedT.latestVersion, aggT.latestVersion)
      var srcRows = 0L
      val reads = if (warmup) 1 else ResultReads
      var w = 1
      while (w <= maxWaves && more(w, deadline, timed = 2, warm = 1)) {
        val t1 = now
        tr.call("streaming.wave") {
          Seq(oT -> orderWaves(w), cT -> customerWaves(w)).foreach { case (t, df) =>
            val t2 = now
            val v = tr.call("streaming.source_commit")(t.upsert(df, uniqueKeys = true))
            tr.sample("e2e.write", secs(t2))
            srcRows += changedRows(t, v)
            tr.rows(changedRows(t, v))
          }
          drain("streaming.stage")
        }
        tr.sample("e2e.fresh", secs(t1))
        (1 to reads).foreach { _ =>
          val t4 = now
          val out = tr.call("streaming.result_read")(aggT.snapshot().collect())
          tr.sample("e2e.read", secs(t4))
          tr.check("result_rows", out.nonEmpty && out.length <= 26, s"wave $w: ${out.length} groups")
        }
        w += 1
      }
      tr.value("steps", w - 1)

      if (!warmup) {
        val outRows = Seq(joinedT, aggT).zip(outBefore).map { case (t, v) =>
          KeyedTable.forPath(spark, t.path).changesSince(v).count()
        }.sum
        tr.value("source_change_rows", srcRows.toDouble)
        tr.value("out_change_rows", outRows.toDouble)

        // the chain's output must equal the join and agg recomputed from
        // the two source snapshots
        val o = KeyedTable.forPath(spark, s"$dir/orders").snapshot()
        val cu = KeyedTable.forPath(spark, s"$dir/customer").snapshot()
        val want = o.join(cu, o("o_custkey") === cu("c_custkey"), "left")
          .groupBy("c_nationkey").agg(sum("o_totalprice").as("total"), count(lit(1)).as("cnt"))
        val cols = Seq("c_nationkey", "total", "cnt").map(col)
        val got = KeyedTable.forPath(spark, s"$dir/agg").snapshot().select(cols: _*)
        def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
        val (g, e) = (rowsOf(got), rowsOf(want.select(cols: _*)))
        tr.check("final_agg", g == e, s"agg ${g.take(3)} vs recomputed ${e.take(3)}")
      }
    }
  }
}

/** Near-duplicate clustering and an incrementally maintained IVF-PQ
  * index: `Dedup.minhashLsh` + `nearDupClusters` over documents, direct
  * selects of the native `functions` builders, then `IvfPqIndex` build,
  * chunked upserts, a delete and seeded queries. Exercises `ops` and
  * `functions`, which the other workloads bypass. */
object DedupAnn extends Workload {
  import Workload._

  val Documents = 5000L
  val Vectors = 2000L
  val UpsertChunks = 4
  val DeletePermille = 20
  val RecallQueries = 10
  /** Lowest acceptable mean recall@20 of the index (nprobe 4 of 16 lists). */
  val RecallFloor = 0.25

  def prepare(c: Ctx): Long => Unit = {
    import c._
    import graft.ops.{Dedup, IvfPqIndex}
    import graft.functions.{HashExpressions, VectorExpressions}
    val nD = n(Documents); val nV = n(Vectors)
    gen.documents(nD).write.parquet(s"$dir/input/documents")
    gen.embeddings(nV).write.parquet(s"$dir/input/embeddings")
    val docs = spark.read.parquet(s"$dir/input/documents")
    val vecs = spark.read.parquet(s"$dir/input/embeddings")
    val vectors: Map[Long, Seq[Double]] = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val deleted = vecs.where(gen.sample(71, DeletePermille, col("vec_id"))).select("vec_id")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val live = vectors.keys.filterNot(deletedIds).toSeq.sorted.toIndexedSeq
    val seedRows = nV / 2
    val nChunks = if (warmup) 1 else UpsertChunks
    val chunk = math.max(1L, (nV - seedRows) / nChunks)
    // fixed centroid matrix for the argMinL2 builder: the first 16 vectors
    val centroids = (0L until math.min(16L, nV)).map(vectors)
    val queryRng = new scala.util.Random(seed)

    deadline => {
      val idx = s"$dir/ivfpq"
      val t0 = now
      val pairs = tr.call("ops.minhash_lsh", nD)(Dedup.minhashLsh(docs, bands = 32, threshold = 0.5))
      val labels = tr.call("ops.near_dup_clusters", nD) {
        val l = Dedup.nearDupClusters(docs.select("doc_id"), pairs)
        (l, l.collect())
      }
      val dedupSecs = secs(t0)
      val ids = labels._2.map(_.getLong(0))
      tr.check("clusters_cover_docs", ids.length == nD && ids.distinct.length == nD &&
        ids.forall(i => i >= 0 && i < nD), s"${ids.length} labels, ${ids.distinct.length} distinct")
      tr.value("dup_pairs", pairs.count().toDouble)
      graft.store.Lineage.release(labels._1)
      pairs.unpersist()

      // the native builders on fixed inputs
      tr.call("functions.shingles", nD)(docs
        .select(size(HashExpressions.wordShingles(col("text"), 3)).as("n")).agg(sum("n")).collect())
      tr.call("functions.minhash", nD)(docs
        .select(element_at(HashExpressions.minhashShingles(
          HashExpressions.wordShingles(col("text"), 3), 64), 1).as("m")).agg(max("m")).collect())
      tr.call("functions.argmin_l2", nV)(vecs
        .select(VectorExpressions.argMinL2(col("embedding"), typedLit(centroids)).as("c"))
        .agg(sum("c")).collect())

      val t1 = now
      tr.call("ops.ivfpq_build", seedRows)(IvfPqIndex.build(spark, idx,
        vecs.where(col("vec_id") < seedRows), nlist = 16, m = 8, k = 16))
      tr.value("e2e.bulk_s", dedupSecs + secs(t1))
      tr.value("e2e.bulk_rows", (nD + seedRows).toDouble)

      def query(id: Long): Array[Long] =
        tr.call("ops.ivfpq_query")(IvfPqIndex.query(spark, idx, vectors(id), k = 20, nprobe = 4)
          .collect().map(_.getLong(0)))

      (0 until nChunks).foreach { k =>
        val lo = seedRows + k * chunk
        val hi = if (k == nChunks - 1) nV else lo + chunk
        val t2 = now
        tr.call("ops.ivfpq_upsert", hi - lo)(IvfPqIndex.upsert(spark, idx,
          vecs.where(col("vec_id") >= lo && col("vec_id") < hi)))
        tr.sample("e2e.write", secs(t2))
        val hit = query(lo)
        tr.sample("e2e.fresh", secs(t2))
        tr.check("upserted_vector_found", hit.contains(lo), s"vector $lo not in its own top-20")
      }
      tr.call("ops.ivfpq_delete", deletedIds.size)(IvfPqIndex.delete(spark, idx, deleted))

      val asked = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
      var q = 0
      while (more(q + 1, deadline, timed = 3, warm = 1)) {
        val id = live(queryRng.nextInt(live.size))
        val t3 = now
        val res = query(id)
        tr.sample("e2e.read", secs(t3))
        tr.check("deleted_absent", !res.exists(deletedIds), s"query $id returned a deleted vector")
        if (asked.size < RecallQueries) asked += id -> res
        q += 1
      }
      tr.value("steps", q)

      if (!warmup) {
        // recall@20 against an exact squared-L2 top-20 over the live vectors
        val liveVecs = vecs.join(deleted, Seq("vec_id"), "left_anti")
        val recalls = asked.toSeq.map { case (id, res) =>
          val exact = liveVecs
            .withColumn("d", aggregate(zip_with(col("embedding"), typedLit(vectors(id)),
              (a, b) => (a.cast("double") - b) * (a.cast("double") - b)), lit(0.0), _ + _))
            .orderBy(col("d"), col("vec_id")).limit(20).select("vec_id").collect().map(_.getLong(0))
          exact.count(res.toSet).toDouble / exact.length
        }
        val recall = recalls.sum / recalls.size
        tr.value("ann_recall_at_20", recall)
        tr.check("recall_floor", recall >= RecallFloor, s"recall@20 $recall < $RecallFloor")
      }
    }
  }
}
