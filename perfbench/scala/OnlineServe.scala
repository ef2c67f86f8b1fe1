package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.ops.{Similarity, Stores}
import graft.serve.Recommend

/** `online_serve`: the per-request serving path over a store-backed IVF
  * catalog. Set-up synthesizes a MovieLens-25M-shaped model (162,541
  * users, 59,047 items, rank 12, Zipf item rating counts) and builds the
  * catalog store; the timed window is a closed loop of seeded requests:
  * top-20 reads for batches of 1-64 Zipf-skewed users, with one write
  * (appends and tombstones) in every five operations. */
object OnlineServe {
  val Users = 162541
  val Items = 59047
  val Rank = 12
  val Genres = 32
  val Floor = 90L
  val TargetCellPop = 1024
  val K = 20
  // The traffic mix below is assumed, not taken from a trace; README.md
  // ("Traffic assumptions") gives the reason for each value.
  // 4 of the 24 cells: recall@20 ~0.95 on the audit sample, so a change
  // can trade recall against latency either way
  val NProbe = 4
  // the 1-64 users per request of the serving path, log-evenly, each size
  // as often as the others
  val BatchSizes = List(1, 4, 16, 64)
  // one write per four reads: mostly reads, and ~6-8 writes in a 20 s
  // window for the write median
  val Block = BatchSizes.size + 1
  // as many items appended as tombstoned, so the live catalog keeps its
  // size and only files and tombstones grow
  val ItemsPerWrite = 4
  // the first set-up is cold (~3x a warm one), so the median of three is
  // a warm one
  val SetupReps = 3
  // the fewest reads a window ends with: the tail percentile is
  // the highest one with 10 reads beyond it at this count (p75), the same
  // for every run whatever the program's speed
  val MinReads = 40
  val AuditUsers = 128
  val Table = "perfbench_catalog"
  val MaxNorm = 1.2
  val ModelSeed = 1L

  private val itemSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("features", ArrayType(DoubleType)), StructField("bias", DoubleType)))
  private val countSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("n_ratings", LongType)))
  private val userSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("features", ArrayType(DoubleType))))

  /** The synthesized model: genre centers, per-item vectors and biases,
    * per-item rating counts, user vectors. It is the same for every run (a
    * seed-dependent model moved cell balance, and with it read latency and
    * recall, more than the request stream did); only the vectors of items
    * appended during the run come from the run's seed. */
  final class Model(runSeed: Long) {
    private def rng(kind: Long, id: Long, seed: Long = ModelSeed) =
      new SplittableRandom(seed * 1000003L + kind * 0x9E3779B97F4A7C15L + id)
    val centers: Array[Array[Double]] = Array.tabulate(Genres) { g =>
      val r = rng(1, g); Array.fill(Rank)(r.nextGaussian() / math.sqrt(Rank))
    }
    private def around(r: SplittableRandom, g: Int, spread: Double, norm: Double) = {
      val v = Array.tabulate(Rank)(k => centers(g)(k) + spread * r.nextGaussian() / math.sqrt(Rank))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ * norm / n)
    }
    def item(id: Int): (Array[Double], Double) = {
      val r = rng(2, id)
      val v = around(r, r.nextInt(Genres), 0.7, 0.8 + 0.4 * r.nextDouble())
      (v, math.max(-1.0, math.min(1.0, 0.3 * r.nextGaussian())))
    }
    /** A new item at the catalog's maximum norm and bias: for a probe user
      * equal to its own vector it outscores every other item, which is how
      * the append check proves it servable. */
    def newItem(id: Int): (Array[Double], Double) = {
      val r = rng(3, id, runSeed)
      (around(r, r.nextInt(Genres), 0.7, MaxNorm), 1.0)
    }
    def user(id: Int): Array[Double] = {
      val r = rng(4, id)
      around(r, r.nextInt(Genres), 1.0, 1.0)
    }
    /** Zipf-like counts: the item at popularity rank p has ~2.16M/p ratings
      * (~25M in all); ranks are a seeded permutation of item ids. */
    val counts: Array[Long] = {
      val perm = Array.range(0, Items)
      val r = rng(5, 0)
      for (i <- Items - 1 until 0 by -1) {
        val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
      }
      val c = new Array[Long](Items)
      perm.zipWithIndex.foreach { case (id, p) => c(id) = (2.16e6 / (p + 1)).toLong }
      c
    }
    val eligible: Array[Int] = (0 until Items).filter(counts(_) >= Floor).toArray
  }

  def itemFrame(spark: SparkSession, rows: Seq[(Int, Array[Double], Double)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v, b) => Row(id, v.toSeq, b) }, 4), itemSchema)

  def countFrame(spark: SparkSession, rows: Seq[(Int, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, n) => Row(id, n) }, 4), countSchema)

  def userFrame(spark: SparkSession, m: Model, ids: Seq[Int]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    ids.foreach(id => rows.add(Row(id, m.user(id).toSeq)))
    spark.createDataFrame(rows, userSchema)
  }

  sealed trait Op
  final case class Read(users: Array[Int]) extends Op
  /** A catalog update: append new items, tombstone live ones. */
  final case class Write(added: Array[Int], removed: Array[Int]) extends Op

  /** The seeded request stream, in blocks of [[Block]] operations with one
    * write at a seeded position in each block. The block's reads ask for
    * [[BatchSizes]] users, in seeded order, so batch sizes span 1..64
    * log-evenly and every block asks for the same number of users. User ids
    * are Zipf (density ~1/rank over a seeded id permutation), duplicates
    * within a batch collapsing. Tombstones pick live items. */
  final class Load(seed: Long, m: Model) {
    private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private val live = mutable.ArrayBuffer.from(m.eligible)
    private var nextId = Items
    private val userPerm = {
      val rp = new SplittableRandom(seed + 17)
      val p = Array.range(0, Users)
      for (i <- Users - 1 until 0 by -1) {
        val j = rp.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    def zipfUser(): Int =
      userPerm(math.min(Users - 1, math.exp(r.nextDouble() * math.log(Users + 1.0)).toInt - 1))
    private var pos = 0
    private var writeAt = 0
    private var sizes = List.empty[Int]
    def next(): Op = {
      if (pos % Block == 0) {
        writeAt = r.nextInt(Block)
        sizes = new scala.util.Random(r.nextLong()).shuffle(BatchSizes)
      }
      pos += 1
      if ((pos - 1) % Block == writeAt) {
        val removed = Array.fill(ItemsPerWrite)(live.remove(r.nextInt(live.size)))
        val added = Array.tabulate(ItemsPerWrite)(_ + nextId)
        nextId += ItemsPerWrite
        live ++= added
        Write(added, removed)
      } else {
        val n = sizes.head
        sizes = sizes.tail
        Read(Array.fill(n)(zipfUser()).distinct)
      }
    }
  }

  /** Response invariants: at most K rows per user, ranks 1..n, scores
    * non-increasing with rank, only requested users, every requested user
    * answered, and no tombstoned id. */
  def checkResponse(users: Array[Int], rows: Array[Row], dead: collection.Set[Int]): Option[String] = {
    val byUser = rows.groupBy(_.getInt(0))
    val asked = users.toSet
    byUser.keys.find(!asked(_)).map(u => s"unrequested user $u")
      .orElse(users.find(!byUser.contains(_)).map(u => s"user $u got no recs"))
      .orElse(byUser.collectFirst {
        case (u, rs) if rs.length > K => s"user $u got ${rs.length} rows"
        case (u, rs) if rs.map(_.getInt(3)).sorted.toSeq != (1 to rs.length) =>
          s"user $u ranks not contiguous"
        case (u, rs) if rs.sortBy(_.getInt(3)).map(_.getDouble(2)).sliding(2)
            .exists(p => p.length == 2 && p(1) > p(0)) => s"user $u scores increase with rank"
      })
      .orElse(rows.find(r => dead(r.getInt(1))).map(r => s"tombstoned id ${r.getInt(1)} served"))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val res = r.result
    val m = new Model(r.seed)
    val items = itemFrame(spark, m.eligible.toSeq.map { id => val (v, b) = m.item(id); (id, v, b) })
    val counts = countFrame(spark, (0 until Items).map(id => id -> m.counts(id)))

    // set-up, repeated: fit the codebook and (re)write the catalog store
    var centroids = Seq.empty[(Long, Seq[Double])]
    val setup = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      r.tracer.span("serve.setup") {
        centroids = r.tracer.span("ops.codebook") {
          Similarity.autoCodebook(items, "features", TargetCellPop, seed = ModelSeed)
        }
        r.tracer.span("stores.write_catalog") {
          Recommend.writeCatalogStore(items, counts, centroids, Table, centroids.size, Floor)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    res.values("setup_s") = setup

    val dead = mutable.HashSet.empty[Int]
    val appended = mutable.ArrayBuffer.empty[Int]
    var batch = 0L
    def read(users: Array[Int]): Array[Row] = {
      val df = r.tracer.span("serve.plan") {
        Recommend.recommendFromStore(spark, Table, userFrame(spark, m, users), centroids, NProbe, K)
      }
      r.tracer.span("serve.exec")(df.collect())
    }
    def newItems(ids: Array[Int]) = ids.toSeq.map { id => val (v, b) = m.newItem(id); (id, v, b) }

    val readMs, readUsers, writeMs = mutable.ArrayBuffer.empty[Double]
    var recs = 0L
    def write(i: Long, w: Write): Unit = {
      val s = System.nanoTime()
      // a failed write still counts its time
      res.op(s"write#$i")(r.tracer.span("stores.write") {
        r.tracer.span("stores.append") {
          Recommend.appendToCatalogStore(itemFrame(spark, newItems(w.added)),
            countFrame(spark, w.added.toSeq.map(_ -> Floor)), centroids, Table,
            centroids.size, Floor)
        }
        batch += 1
        r.tracer.span("stores.tombstone") {
          Stores.addTombstones(spark.createDataFrame(
              java.util.Arrays.asList(w.removed.toSeq.map(Row(_)): _*),
              StructType(Seq(StructField("id", IntegerType)))),
            "id", Table, batch)
        }
        appended ++= w.added
        dead ++= w.removed
      })(_ => None)
      if (i > 0) writeMs += (System.nanoTime() - s) / 1e6
    }

    val load = new Load(r.seed, m)
    // the stream's first block is the warm-up (JIT, codegen), untimed and
    // untraced
    r.tracer.on = false
    (1 to Block).foreach { _ =>
      load.next() match {
        case Read(u) => read(u)
        case w: Write => write(0, w)
      }
    }
    r.tracer.on = r.traced
    val before = r.tracer.counts()
    val busy0 = r.tracer.busyNs
    val t0 = System.nanoTime()
    var i = 0L
    // whole blocks only, so every run reads the same mix of batch sizes,
    // and at least MinReads reads, so the tail percentile has its 10 reads
    // beyond it
    while (i % Block != 0 || (System.nanoTime() - t0) / 1e9 < r.seconds ||
           readMs.size < MinReads) {
      i += 1
      r.tracer.req = i
      load.next() match {
        case Read(users) =>
          val s = System.nanoTime()
          val rows = res.op(s"read#$i") {
            r.tracer.span("serve.request")(read(users))
          }(rows => checkResponse(users, rows, dead))
          val ms = (System.nanoTime() - s) / 1e6
          readMs += ms
          readUsers += users.length
          recs += rows.map(_.length).getOrElse(0)
        case w: Write => write(i, w)
      }
    }
    val windowNs = System.nanoTime() - t0
    val window = r.tracer.counts() - before
    // the main operation is a read, the second a write; the rate is users
    // served per second spent in reads
    res.values("op_ms") = readMs.toSeq
    res.values("aux_ms") = writeMs.toSeq
    res.values("units") = readUsers.sum
    res.values("units_s") = readMs.sum / 1e3

    // appended items are servable: a probe user equal to a live new item's
    // vector ranks it first once every cell is probed
    val fresh = appended.filterNot(dead).toSeq
    res.op("servable") {
      val probes = new java.util.ArrayList[Row]()
      fresh.foreach(id => probes.add(Row(id, m.newItem(id)._1.toSeq)))
      Recommend.recommendFromStore(spark, Table, spark.createDataFrame(probes, userSchema),
        centroids, centroids.size, K).collect()
        .groupBy(_.getInt(0)).map { case (u, rs) => u -> rs.map(_.getInt(1)).toSet }
    }(top => fresh.find(id => !top.getOrElse(id, Set.empty[Int]).contains(id))
      .map(id => s"appended id $id not served"))

    // quality: recall@K of the store path against the exact cross-score, on
    // a fixed audit sample, over the live catalog as it stands after the
    // window
    val auditT0 = System.nanoTime()
    val audit = {
      val ar = new SplittableRandom(ModelSeed + 99)
      Iterator.continually(ar.nextInt(Users)).distinct.take(AuditUsers).toArray
    }
    val live = itemFrame(spark, (m.eligible.toSeq.filterNot(dead) ++ appended.filterNot(dead))
      .map { id => val (v, b) = if (id < Items) m.item(id) else m.newItem(id); (id, v, b) })
    val liveCounts = countFrame(spark, (m.eligible.toSeq ++ appended).map(id =>
      id -> (if (id < Items) m.counts(id) else Floor)))
    val users = userFrame(spark, m, audit.toSeq)
    def topk(df: DataFrame) = df.collect().groupBy(_.getInt(0)).map { case (u, rs) =>
      u -> rs.map(_.getInt(1)).toSet }
    val exact = topk(Recommend.recommend(users, live, liveCounts, K, Floor))
    val approx = topk(Recommend.recommendFromStore(spark, Table, users, centroids, NProbe, K))
    res.values("quality") = audit.map { u =>
      val e = exact.getOrElse(u, Set.empty[Int])
      if (e.isEmpty) 0.0 else (e intersect approx.getOrElse(u, Set.empty)).size.toDouble / e.size
    }.sum / audit.length
    val auditS = (System.nanoTime() - auditT0) / 1e9

    if (r.traced) {
      val reqs = r.tracer.named("serve.request")
      Main.opLayer(r, "op", reqs)
      Main.opLayer(r, "aux", r.tracer.named("stores.write"))
      res.values("setup.first_s") = setup.head
      res.values("quality.s") = auditS
      res.values("serve.reads") = reqs.size
      res.values("serve.plan_ms") = Main.median(r.tracer.named("serve.plan").map(_.ms))
      res.values("serve.exec_ms") = Main.median(r.tracer.named("serve.exec").map(_.ms))
      res.values("serve.jobs_per_req") = reqs.map(_.counts("jobs")).sum.toDouble / reqs.size
      res.values("serve.tasks_per_req") = reqs.map(_.counts("tasks")).sum.toDouble / reqs.size
      res.values("serve.rows_scanned_per_rec") =
        reqs.map(_.counts("records_read")).sum.toDouble / math.max(1L, recs)
      res.values("ops.codebook_s") = Main.median(r.tracer.named("ops.codebook").map(_.ms / 1e3))
      res.values("stores.write_catalog_s") =
        Main.median(r.tracer.named("stores.write_catalog").map(_.ms / 1e3))
      res.values("stores.append_ms") = Main.median(r.tracer.named("stores.append").map(_.ms))
      res.values("stores.tombstone_ms") = Main.median(r.tracer.named("stores.tombstone").map(_.ms))
      Main.sparkLayer(r, window, windowNs / 1e6)
      res.values("trace.overhead_pct") = 100.0 * (r.tracer.busyNs - busy0) / windowNs
    }
    res.values("stores.files_at_end") = storeFiles(spark)
    res.values("stores.tombstones_at_end") = Stores.tombstoneCount(spark, Table)
    Stores.dropStore(spark, Table)
  }

  def storeFiles(spark: SparkSession): Long = {
    val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), Table)
    Option(dir.listFiles()).toSeq.flatten
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).toLong
  }
}
