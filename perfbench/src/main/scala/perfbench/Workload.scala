package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed, the time budget,
  * its scratch directory, the fixed input tables, the stored reference
  * and the failure ledger. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val cores: Int, val work: Path, val data: Path,
                val reference: Option[com.fasterxml.jackson.databind.JsonNode]) {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  def failed: Int = failures.size

  /** Count one operation; a throw is named on stderr and counted failed. */
  def attempt[T](op: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case scala.util.control.NonFatal(t) =>
        fail(op, s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
        None
    }
  }

  /** Record an operation that ran but failed its output check. */
  def fail(op: String, why: String): Unit = {
    failures += s"$op: $why"
    Util.progress(s"FAILED $op: $why")
  }

  /** Compare a result with the stored reference for `key` under the
    * workload's section; false on any mismatch or a missing reference. */
  def check(workload: String, key: String, got: Digest): Boolean =
    reference.flatMap(r => Option(r.get(workload))).flatMap(w => Option(w.get(key)))
      .map(Digest.fromJson) match {
      case Some(want) if want == got => true
      case Some(want) => fail(s"$workload/$key", s"output $got, reference $want"); false
      case None => fail(s"$workload/$key", "no stored reference"); false
    }
}

/** The end-to-end figures of one workload run, as measured. */
final case class Measured(wall: Summary, opGeomean: Double, rate: Summary,
                          details: Seq[(String, String)])

/** A traced pass: its per-layer metrics, the same end-to-end figures
  * taken with tracing on (with detail for the side file), and the
  * wall-clock windows (epoch ms) of the traced operations. */
final case class Traced(layers: Seq[(String, Double)], e2e: Measured,
                        windows: Seq[(Long, Long)])

trait Workload {
  def name: String
  /** What one operation is and what `rate_per_s` counts, for the record. */
  def unitOfWork: String
  /** Fixture set-up repetitions per run (the median is reported). */
  def setupReps: Int
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx): Measured
  /** Runs a fixed amount of traced work; `tracer` sees every Spark job. */
  def trace(ctx: Ctx, tracer: Tracer): Traced
}
