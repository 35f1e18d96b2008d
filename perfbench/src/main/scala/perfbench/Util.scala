package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Median and quartiles of a sample, by the same rule as Python's
  * `statistics.quantiles(values, n=4)` (the "exclusive" method), so the
  * figures here and the ones a Python script computes agree. */
final case class Summary(median: Double, q1: Double, q3: Double, n: Int) {
  def json: String =
    s"""{"median":${Json.num(median)},"q1":${Json.num(q1)},"q3":${Json.num(q3)},"n":$n}"""
}

object Summary {
  def of(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1) return Summary(s(0), s(0), s(0), 1)
    def q(i: Int): Double = {
      val m = (n + 1) * i
      val j = math.min(math.max(m / 4, 1), n - 1)
      val delta = m - j * 4
      s(j - 1) + (s(j) - s(j - 1)) * delta / 4.0
    }
    Summary(q(2), q(1), q(3), n)
  }

  def median(xs: Seq[Double]): Double = of(xs).median

  /** Value at quantile `p` (0..1) by linear interpolation between ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Just enough JSON writing for the result lines and side files. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Object from already-rendered values, keys in the given order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")

  def parse(text: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
}

/** Row count and order-insensitive content digest of a result: the sum
  * of a 64-bit hash of each row's JSON form (a multiset hash, so row
  * order and partitioning do not matter but every value does). */
final case class Digest(rows: Long, hash: String) {
  def json: String = Json.obj(Seq("rows" -> rows.toString, "digest" -> Json.str(hash)))
}

object Digest {
  def of(df: DataFrame): Digest = {
    val row = df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Digest(row.getLong(0), row.getDecimal(1).toBigInteger.toString)
  }

  def fromJson(node: com.fasterxml.jackson.databind.JsonNode): Digest =
    Digest(node.get("rows").asLong(), node.get("digest").asText())
}

object Util {
  def nowS: Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Deliver every row of `df` without collecting it: the write runs the
    * whole plan, where `count()` would let the optimizer prune it. */
  def deliver(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = java.nio.file.Files.walk(p).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists)
    }

  /** Total bytes and file count under a local directory. */
  def dirSize(p: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    }

  /** graft.Bench's session settings, so the two report comparable numbers;
    * Spark's scratch space stays inside the benchmark's work directory. */
  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
