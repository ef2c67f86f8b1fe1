package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`: raw samples and values,
  * plus the operation tally. Percentiles, medians and the final metric
  * names are computed on the Python side (`stats.py`). */
final class Result {
  val values = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Run one operation: it is attempted, and it failed if it throws or
    * `check` returns an error message. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val out = body
      check(out) match {
        case Some(err) => fail(s"$what: $err"); None
        case None => Some(out)
      }
    } catch {
      case e: Exception => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  def toJson: String = Json.obj(Seq("attempted" -> attempted, "failed" -> failed,
    "errors" -> errors.toSeq, "values" -> values.toSeq))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Common run context handed to each workload. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, result: Result) {
  def traced: Boolean = tracer.enabled
}

/** Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                        --work DIR --out FILE
  * Runs one workload in a local[4] session from this one process and
  * writes the raw result JSON to FILE; spans go to FILE.spans.jsonl when
  * tracing. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val run = Run(spark, opt("seed").toLong, opt("seconds").toDouble, tracer, new Result)
    try {
      opt("workload") match {
        case "online_serve" => OnlineServe.run(run)
        case "batch_train" => BatchTrain.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (tracer.enabled) tracer.write(opt("out") + ".spans.jsonl")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
        run.result.toJson)
    } finally spark.stop()
  }

  /** Spark totals every traced workload reports over its timed window of
    * `windowMs`. */
  def sparkLayer(r: Run, c: Counters, windowMs: Double): Unit = {
    val v = r.result.values
    v("spark.gc_s") = c("gc_ms") / 1e3
    v("spark.fetch_wait_s") = c("fetch_wait_ms") / 1e3
    v("spark.failed_tasks") = c("failed_tasks")
    v("spark.jobs") = c("jobs")
    v("spark.tasks") = c("tasks")
    v("spark.shuffle_mb") = c("shuffle_write_bytes") / 1048576.0
    v("spark.busy_ratio") = c("run_ms") / (windowMs * Cores)
  }

  /** Engine work per operation of one kind (`op`: the workload's main
    * operation, `aux`: its second one), from the operations' spans. */
  def opLayer(r: Run, prefix: String, ops: Seq[Span]): Unit = {
    val v = r.result.values
    def per(name: String) = ops.map(_.counts(name)).sum.toDouble / ops.size
    v(s"$prefix.jobs") = per("jobs")
    v(s"$prefix.tasks") = per("tasks")
    v(s"$prefix.shuffle_kb") = per("shuffle_write_bytes") / 1024.0
    v(s"$prefix.busy_ratio") = ops.map(_.counts("run_ms")).sum / (ops.map(_.ms).sum * Cores)
  }

  val Cores = 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
