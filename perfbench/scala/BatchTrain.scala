package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ingest.Ingest
import graft.model.{AlsBias, DsgdBpr, Metrics, Trace}

/** `batch_train`: the retraining job over a seeded MovieLens-shaped
  * ratings frame — ingest, explicit ALS with biases for a fixed number of
  * sweeps, DSGD BPR for a fixed number of epochs on the rating >= 4
  * positives, then RMSE and sampled precision/recall. Set-up is the
  * program's ingest of the ratings. */
object BatchTrain {
  val Users = 4000
  val Items = 2000
  val DrawsPerUser = 20
  val Sweeps = 5
  val Epochs = 3
  val Rank = 12
  val EvalK = 20
  val EvalUsers = 100
  // the first set-up is cold, so the median of three is a warm one
  val SetupReps = 3

  /** Raw ratings in the MovieLens csv layout (1-based sparse ids, half-star
    * ratings, a timestamp), as the corpus `tools.AlsTrainerBench` builds
    * it: per-user Zipf-skewed movie draws (duplicates collapse), plus a
    * seeded user and item offset so the ratings carry learnable signal. */
  def ratings(r: Run): DataFrame = {
    val seed = r.seed
    def u01(cols: org.apache.spark.sql.Column*) =
      pmod(xxhash64(cols :+ lit(seed): _*), lit(1000003L)).cast("double") / 1000003.0
    r.spark.range(Users.toLong).select(col("id").cast("int").as("user"))
      .crossJoin(r.spark.range(DrawsPerUser.toLong).select(col("id").as("j")))
      .select(col("user"),
        floor(u01(col("user"), col("j")) * u01(col("j"), col("user")) * Items).cast("int").as("movie"))
      .distinct()
      .select((col("user") + 1).as("userId"),
        (col("movie") * 3 + 1).as("movieId"),
        greatest(lit(0.5), least(lit(5.0), round((lit(3.5) +
          (u01(col("user"), lit(1)) - 0.5) * 2.0 +
          (u01(col("movie"), lit(2)) - 0.5) * 2.0 +
          (u01(col("user"), col("movie")) - 0.5)) * 2.0) / 2.0)).as("rating"),
        (lit(1500000000L) + col("user") * 7919L + col("movie")).as("timestamp"))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val res = r.result
    val tr = r.tracer

    // the input, built and cached once and not timed
    val raw = ratings(r).persist(StorageLevel.MEMORY_ONLY)
    res.values("ratings") = raw.count()
    val zeroRmse = raw.agg(sqrt(avg(col("rating") * col("rating")))).head().getDouble(0)

    // set-up, repeated: Ingest.prepareRatings of the cached input into the
    // training layout, the call the job then makes again
    val setup = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val (prepared, _) = prepare(raw)
      val s = (System.nanoTime() - t0) / 1e9
      prepared.unpersist(blocking = true)
      s
    }
    res.values("setup_s") = setup

    // the timed window is one retraining job, the first in this JVM, as a
    // scheduled retraining that starts its own Spark application runs it.
    // A second job in the same JVM is not timed: in about one run in four
    // its ALS sweeps ran ~4x slower (GramianSum.reduce indexing a List),
    // which is a defect of the program, not a property of the workload
    val before = tr.counts()
    val busy0 = tr.busyNs
    tr.req = 1
    val sweeps, epochs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val out = res.op("train") {
      tr.span("model.job") { trainOnce(r, raw, sweeps, epochs) }
    } { case (rmse, p, rc) =>
      if (rmse.isNaN || rmse.isInfinite) Some(s"rmse $rmse not finite")
      else if (rmse >= zeroRmse) Some(s"rmse $rmse not below the zero model's $zeroRmse")
      else if (!(p >= 0 && p <= 1 && rc >= 0 && rc <= 1)) Some(s"P/R@$EvalK out of range: $p $rc")
      else None
    }
    val trainNs = System.nanoTime() - t0
    val window = tr.counts() - before
    // the main operation is an ALS sweep, the second a BPR epoch; the rate
    // is ratings trained on per second of the job; quality is the share of
    // the zero model's RMSE that the ALS model removes
    res.values("op_ms") = sweeps.map(_ * 1e3).toSeq
    res.values("aux_ms") = epochs.map(_ * 1e3).toSeq
    res.values("units") = res.values("ratings")
    res.values("units_s") = trainNs / 1e9
    out.foreach { case (rmse, _, _) => res.values("quality") = 1.0 - rmse / zeroRmse }

    if (r.traced) {
      def secs(name: String) = tr.named(name).map(_.ms / 1e3)
      Main.opLayer(r, "op", tr.named("model.als_sweep"))
      Main.opLayer(r, "aux", tr.named("model.bpr_epoch"))
      res.values("setup.first_s") = setup.head
      res.values("quality.s") = Main.median(secs("model.eval"))
      res.values("ingest.prepare_s") = Main.median(secs("ingest.prepare"))
      res.values("model.als_layout_s") = Main.median(secs("model.als_layout"))
      res.values("model.eval_s") = Main.median(secs("model.eval"))
      val alsSweeps = tr.named("model.als_sweep")
      res.values("model.als_first_sweep_s") = alsSweeps.head.ms / 1e3
      res.values("model.als_shuffle_mb_per_sweep") =
        alsSweeps.map(_.counts("shuffle_write_bytes")).sum / 1048576.0 / alsSweeps.size
      res.values("model.als_spill_mb") =
        tr.named("model.als_train").map(_.counts("spill_bytes")).sum / 1048576.0
      val bpr = tr.named("model.bpr_epoch")
      res.values("model.bpr_shuffle_mb_per_epoch") =
        bpr.map(_.counts("shuffle_write_bytes")).sum / 1048576.0 / bpr.size
      Main.sparkLayer(r, window, trainNs / 1e6)
      res.values("trace.overhead_pct") = 100.0 * (tr.busyNs - busy0) / trainNs
    }
  }

  /** The ratings in the training layout, cached, and the item count. */
  def prepare(raw: DataFrame): (DataFrame, Int) = {
    val p = Ingest.prepareRatings(raw)
      .select(col("userId"), col("movieId_order"), col("rating"))
      .persist(StorageLevel.MEMORY_ONLY)
    (p, p.agg(max(col("movieId_order"))).head().getInt(0) + 1)
  }

  /** One retraining job; returns (RMSE, P@K, R@K) and appends the per-sweep
    * and per-epoch wall times. Sweep and epoch boundaries come from the
    * trainers' own hooks: ALS calls onStart after its one-time layout and
    * onIter after each sweep; BPR calls onEpoch after each epoch. */
  def trainOnce(r: Run, raw: DataFrame, sweeps: mutable.ArrayBuffer[Double],
                epochs: mutable.ArrayBuffer[Double]): (Double, Double, Double) = {
    val tr = r.tracer
    val (prepared, numItems) = tr.span("ingest.prepare")(prepare(raw))

    var mark = 0L
    var phase = Option.empty[Span]
    def boundary(next: Option[String], into: mutable.ArrayBuffer[Double]): Unit = {
      val now = System.nanoTime()
      if (into != null) into += (now - mark) / 1e9
      mark = now
      tr.close(phase)
      phase = next.flatMap(tr.open)
    }
    val model = tr.span("model.als_train") {
      phase = tr.open("model.als_layout")
      var iter = 0
      AlsBias.trainTraced(prepared, "userId", "movieId_order", "rating",
        AlsBias.Params(rank = Rank, maxIter = Sweeps, tol = 0.0, seed = r.seed),
        Trace.Config(computeMetrics = false,
          onStart = () => boundary(Some("model.als_sweep"), null),
          onIter = _ => {
            iter += 1
            boundary(if (iter < Sweeps) Some("model.als_sweep") else None, sweeps)
          }))._1
    }

    val positives = prepared.filter(col("rating") >= 4.0)
      .select(col("userId"), col("movieId_order"))
    val bpr = tr.span("model.bpr_train") {
      mark = System.nanoTime()
      phase = tr.open("model.bpr_epoch")
      var epoch = 0
      DsgdBpr.trainFactors(positives, "userId", "movieId_order", numItems,
        DsgdBpr.Params(rank = Rank, epochs = Epochs, blocks = 4, seed = r.seed),
        trace = Trace.BprConfig(onEpoch = _ => {
          epoch += 1
          boundary(if (epoch < Epochs) Some("model.bpr_epoch") else None, epochs)
        }))
    }

    val out = tr.span("model.eval") {
      val rmse = Metrics.rmse(model.predict(prepared, "userId", "movieId_order"),
        "rating", "prediction")
      val pr = Metrics.precisionRecallAtKSampled(bpr.userFactors, bpr.itemFactors,
        positives, "userId", "movieId_order", EvalK, EvalUsers, seed = r.seed).head()
      (rmse, pr.getDouble(0), pr.getDouble(1))
    }
    prepared.unpersist(blocking = true)
    out
  }
}
