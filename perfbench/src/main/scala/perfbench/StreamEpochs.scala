package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.NightlyRefresh

/** The streaming refresh: `NightlyRefresh.start` over `documents`. The
  * oldest 80% of the corpus is the seed epoch (set-up); then each delta
  * epoch lands one parquet directory holding the next `newPerEpoch`
  * documents in id order plus `copiesPerEpoch` exact copies of stored
  * documents, the seed choosing which. An epoch is timed from the
  * directory's landing (an atomic rename) to `processAllAvailable()`.
  *
  * Doc ids must arrive in increasing order (the refresh's contract), so
  * the seed cannot pick the held-out 20%; it picks the copies, which
  * exact dedup must drop. The report after k epochs therefore does not
  * depend on the seed, and the stored reference is one per epoch count. */
object StreamEpochs extends Workload {
  val name = "stream_epochs"
  val unitOfWork = "one delta epoch; rate_per_s counts new documents ingested"
  val setupReps = 1
  val newPerEpoch = 6
  val copiesPerEpoch = 6
  val minEpochs = 3
  val tracedEpochs = 2

  /** NightlyRefresh's job descriptions, "nref e<id>: <phase>"; the s6
    * state-table writes run concurrently, so their job times overlap. */
  val phases: Seq[String] = Seq("s1 exact dedup", "s2 delta prefix", "s2 bucket set",
    "s2 candidate join", "s2 cand shingles", "s2 verified pairs", "s3 affected labels",
    "s3 label refresh", "s4 fused states") ++
    Seq("docs", "grams", "labels", "agg", "hdr", "kmv", "report").map(t => s"s6 write $t")
  private def phaseMetric(p: String) = s"streaming.phase_s.${p.replace(' ', '_')}"

  private var seedDocs: DataFrame = _
  private var held: Seq[Long] = Nil
  private var query: StreamingQuery = _

  private def root(ctx: Ctx): Path = ctx.work.resolve("stream")
  private def state(ctx: Ctx): Path = root(ctx).resolve("state")
  private def maxEpochs: Int = held.size / newPerEpoch

  private def docs(ctx: Ctx): DataFrame =
    graft.Tables.load(ctx.spark, ctx.data.toString, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"))

  /** Fixture: the seed corpus and the held-out ids, then the stream is
    * started and its seed epoch run. */
  def setup(ctx: Ctx): Unit = {
    Util.deleteRecursively(root(ctx))
    val all = docs(ctx)
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids((ids.length * 0.8).toInt)
    held = ids.filter(_ >= cut).toSeq
    all.filter(col("doc_id") < cut).write.parquet(root(ctx).resolve("seed").toUri.toString)
    seedDocs = ctx.spark.read.parquet(root(ctx).resolve("seed").toUri.toString)
    // the seed epoch's batch: copies only, which stage 1 drops
    land(ctx, 0, copies(ctx, 0))
    query = NightlyRefresh.start(
      ctx.spark.readStream.schema(seedDocs.schema).parquet(src(ctx) + "/*"),
      seedDocs, state(ctx).toUri.toString, root(ctx).resolve("ckpt").toUri.toString)
    query.processAllAvailable()
  }

  private def src(ctx: Ctx): String = root(ctx).resolve("src").toUri.toString

  /** Seeded exact copies of seed documents, under ids no document has. */
  private def copies(ctx: Ctx, epoch: Int): DataFrame =
    seedDocs.orderBy(xxhash64(lit(ctx.seed), lit(epoch), col("doc_id")))
      .limit(copiesPerEpoch)
      .withColumn("doc_id", lit(100000000L + epoch * 1000L) + col("doc_id"))

  private def batch(ctx: Ctx, epoch: Int): DataFrame = {
    val ids = held.slice((epoch - 1) * newPerEpoch, epoch * newPerEpoch)
    docs(ctx).filter(col("doc_id").isin(ids: _*)).unionByName(copies(ctx, epoch))
  }

  /** Write an epoch's input aside, then move it under the watched
    * directory. Returns the landing time (ns, and epoch ms for the
    * tracer's window) and the input's bytes. */
  private def land(ctx: Ctx, epoch: Int, df: DataFrame): (Long, Long, Long) = {
    val staged = root(ctx).resolve(s"staging/f$epoch")
    df.coalesce(1).write.parquet(staged.toUri.toString)
    val bytes = Util.dirSize(staged)._1
    Files.createDirectories(root(ctx).resolve("src"))
    val t0 = System.nanoTime()
    val landedMs = System.currentTimeMillis()
    Files.move(staged, root(ctx).resolve(s"src/f$epoch"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    (t0, landedMs, bytes)
  }

  /** One delta epoch: (latency s, input bytes, landing epoch ms), or
    * None if it threw. */
  private def epoch(ctx: Ctx, e: Int): Option[(Double, Long, Long)] = {
    val input = batch(ctx, e)
    val r = ctx.attempt(s"$name/epoch $e") {
      val (t0, landedMs, bytes) = land(ctx, e, input)
      query.processAllAvailable()
      ((System.nanoTime() - t0) / 1e9, bytes, landedMs)
    }
    Util.progress(f"$name epoch $e ${r.fold("failed")(x => f"${x._1}%.3f s")}")
    r
  }

  /** Stop the stream and compare the report with the stored reference
    * for this many epochs. Returns whether it matched. */
  private def finish(ctx: Ctx, epochs: Int): Boolean = {
    stopQuery()
    ctx.attempt(s"$name/report") {
      Digest.of(NightlyRefresh.currentReport(ctx.spark, state(ctx).toUri.toString))
    }.exists(ctx.check(name, epochs.toString, _))
  }

  private def stopQuery(): Unit = if (query != null) { query.stop(); query = null }

  private def measured(lat: Seq[Double], extra: Seq[(String, String)]): Measured =
    Measured(Summary.of(lat), Summary.geomean(lat),
      Summary.of(lat.map(newPerEpoch / _)),
      extra ++ Seq("epoch_s" -> Json.arr(lat.map(Json.num)),
        "new_docs_per_epoch" -> newPerEpoch.toString,
        "copies_per_epoch" -> copiesPerEpoch.toString))

  def measure(ctx: Ctx): Measured = try {
    val lat = mutable.ArrayBuffer.empty[Option[Double]]
    val t0 = Util.nowS
    while (lat.size < maxEpochs && (lat.size < minEpochs || Util.nowS - t0 < ctx.seconds))
      lat += epoch(ctx, lat.size + 1).map(_._1)
    val ok = finish(ctx, lat.size)
    // a wrong final state means no epoch's timing can be trusted
    if (!ok) lat.indices.foreach(i => if (lat(i).isDefined) {
      ctx.fail(s"$name/epoch ${i + 1}", "final report does not match"); lat(i) = None })
    measured(lat.flatten.toSeq, Nil)
  } finally stopQuery()

  def trace(ctx: Ctx, tracer: Tracer): Traced = try {
    val runs = (1 to tracedEpochs).map { e =>
      val r = epoch(ctx, e)
      tracer.drain()
      // the epoch's jobs: from its input's landing (staging the input is
      // the benchmark's work, not the stream's) to now
      val window = r.map(x => (x._3, System.currentTimeMillis()))
      val jobs = window.fold(Seq.empty[tracer.Job])(w => tracer.jobsIn(w._1, w._2))
      val (bytes, _) = Util.dirSize(state(ctx).resolve(s"epoch=$e"))
      (r, jobs, r.fold(0.0)(x => bytes.toDouble / x._2), window)
    }
    finish(ctx, tracedEpochs)
    val n = runs.size.toDouble
    val jobs = runs.flatMap(_._2)
    val phaseS = jobs.groupBy { j =>
      phases.find(p => j.description.endsWith(s": $p")).getOrElse("other")
    }.map { case (p, js) => p -> js.map(j => (j.end - j.start) / 1e3).sum / n }
    val (stateBytes, stateFiles) = Util.dirSize(state(ctx))
    val layers = Seq(
      "streaming.jobs_per_epoch" -> jobs.size / n,
      "streaming.tasks_per_epoch" -> tracer.tasksOf(jobs.map(_.id).toSet) / n) ++
      (phases :+ "other").map(p => phaseMetric(p) -> phaseS.getOrElse(p, 0.0)) ++ Seq(
      "streaming.state_bytes" -> stateBytes.toDouble,
      "streaming.state_files" -> stateFiles.toDouble,
      "streaming.write_amplification" -> Summary.median(runs.map(_._3)))
    val epochJobs = runs.map(r => Json.arr(r._2.map(j => Json.str(
      if (j.description.nonEmpty) j.description else j.callSite.linesIterator.take(2).mkString(" < ")))))
    Traced(layers, measured(runs.flatMap(_._1.map(_._1)), Seq("epoch_jobs" -> Json.arr(epochJobs))),
      runs.flatMap(_._4))
  } finally stopQuery()

  /** Reports after 1..max epochs, from one stream of every epoch. */
  def reference(ctx: Ctx): Seq[(String, Digest)] = try {
    (1 to maxEpochs).map { e =>
      require(epoch(ctx, e).isDefined, s"epoch $e failed")
      e.toString -> Digest.of(NightlyRefresh.currentReport(ctx.spark, state(ctx).toUri.toString))
    }
  } finally stopQuery()
}
