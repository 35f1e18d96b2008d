package perfbench

import java.net.InetSocketAddress
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.jobs.UserProfileJob
import graft.sink.ClevertapClient
import graft.source.ChangelogTableSource
import graft.transform.Sanity

/** In-process CleverTap stand-in: every POST takes a fixed service time,
  * on a pool no larger than the core count, so how many egress tasks
  * post at once shows in the job's wall time as it would against a real
  * API. Counts posts, profile records and bytes received. */
final class Stub(threads: Int, serviceMs: Long) {
  val posts = new AtomicLong()
  val records = new AtomicLong()
  val bytes = new AtomicLong()
  private val marker = "\"type\":\"profile\""
  // the JDK server otherwise leaves Nagle's algorithm on, and each small
  // response then waits out the client's delayed ACK (about 40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.createContext("/", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    var n = 0L
    var i = body.indexOf(marker)
    while (i >= 0) { n += 1; i = body.indexOf(marker, i + marker.length) }
    Thread.sleep(serviceMs)
    posts.incrementAndGet(); records.addAndGet(n); bytes.addAndGet(body.length.toLong)
    val ok = "{\"status\":\"success\"}".getBytes("UTF-8")
    ex.sendResponseHeaders(200, ok.length.toLong)
    ex.getResponseBody.write(ok)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def reset(): Unit = { posts.set(0); records.set(0); bytes.set(0) }
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

/** Client-side POST latencies and the stages that posted, recorded by
  * the send function the job's egress tasks call (local mode: tasks run
  * in this JVM). */
object PostLog {
  private val posts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  def record(ns: Long): Unit =
    posts.add((Option(org.apache.spark.TaskContext.get()).fold(-1)(_.stageId()), ns))
  def clear(): Unit = posts.clear()
  private def all: Seq[(Int, Long)] = {
    import scala.jdk.CollectionConverters._
    posts.asScala.toSeq
  }
  def millis: Seq[Double] = all.map(_._2 / 1e6)
  def stages: Set[Int] = all.map(_._1).toSet
}

/** The production job, write side: `UserProfileJob.run` over a
  * changelog derived from `customer` with a seeded fan-out, egress in
  * batches of at most 1000 records to the stub, a per-batch audit
  * parquet and a bookmark upsert. Each run gets a fresh job name and
  * bookmark path, because the job is incremental. */
object Egress extends Workload {
  val name = "egress_fanout"
  val unitOfWork = "one UserProfileJob run; rate_per_s counts valid records delivered"
  val setupReps = 3
  /** Profile keys per customer: 1,500 customers become 60,000 keys, two
    * change versions each. */
  val fanOut = 40
  val serviceMs = 5L
  /** Warm-up job runs, the cold first one included. */
  val warmUpRuns = 4
  /** Timed runs per run of the benchmark, at least. */
  val minRuns = 5
  private val keyCol = "customer_id"
  private val tsCol = "_commit_timestamp"
  private val tiebreakCol = "_commit_version"
  private val typeMap = Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward",
    "dob" -> "date")
  private val swapKeyMap = Map("customer_id" -> "identity_id")
  private val attrs = Seq("mobile", "reward", "dob")

  val phases: Seq[String] = Seq("bookmark", "prepare", "egress", "audit", "bookmark_upsert")

  /** What the fixture promises: the valid rows one run must deliver and
    * the bookmark it must leave. */
  private final case class Expect(validRows: Long, maxTs: java.sql.Timestamp)
  private var expect: Expect = _
  private var stub: Stub = _
  private var lastResult: Option[UserProfileJob.Result] = None

  private def changelogPath(ctx: Ctx) = ctx.work.resolve("egress/changelog").toUri.toString
  private def mappingPath(ctx: Ctx) = ctx.work.resolve("egress/mapping").toUri.toString

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = lit(ctx.seed)
    def h(parts: org.apache.spark.sql.Column*) = xxhash64(seed +: parts: _*)
    val k = col("k")
    graft.Tables.load(spark, ctx.data.toString, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("f", explode(lit((0 until fanOut).toArray)))
      // keys from 1: the job rightly treats an identity of "0" as blank
      .withColumn("k", col("c_custkey") * fanOut + col("f") + 1)
      .withColumn("v", explode(lit(Array(0, 1))))
      .select(
        // about one key in a thousand has a blank identity: the job's
        // invalid split must drop it
        when(pmod(h(k, lit("blank")), lit(1000L)) === 0, lit(""))
          .otherwise(k.cast("string")).as(keyCol),
        concat(lit("98"), lpad(pmod(h(k, col("v")), lit(100000000L)).cast("string"), 8, "0"))
          .as("mobile"),
        round(col("c_acctbal") + col("v") + pmod(h(k, lit("r")), lit(100L)) / 100.0, 2)
          .cast("string").as("reward"),
        date_format(date_add(to_date(lit("1960-01-01")),
          pmod(h(k, lit("dob")), lit(15000L)).cast("int")), "yyyy-MM-dd").as("dob"),
        when(col("v") === 0, "insert")
          .when(pmod(h(k, lit("del")), lit(20L)) === 0, "delete")
          .otherwise("update_postimage").as("_change_type"),
        timestamp_seconds(lit(1704067200L) + col("v") * 86400L +
          pmod(h(k, col("v"), lit("ts")), lit(86400L))).as(tsCol),
        col("v").cast("long").as(tiebreakCol))
      .repartition(ctx.cores * 2)
      .write.mode("overwrite").parquet(changelogPath(ctx))
    locally {
      import spark.implicits._
      Seq(("mobile", true), ("reward", true), ("dob", true), ("unused_col", false))
        .toDF("property_name", "clevertap")
        .write.mode("overwrite").parquet(mappingPath(ctx))
    }
    val cl = spark.read.parquet(changelogPath(ctx))
      .filter(col("_change_type").isin("insert", "update_postimage"))
    val row = cl.agg(countDistinct(when(col(keyCol) =!= "", col(keyCol))), max(col(tsCol)))
      .head()
    expect = Expect(row.getLong(0), row.getTimestamp(1))
    if (stub == null) stub = new Stub(ctx.cores, serviceMs)
  }

  private def conf(ctx: Ctx, run: String) = UserProfileJob.Conf(
    jobName = s"perfbench_$run", changelogPath = changelogPath(ctx),
    bookmarkPath = ctx.work.resolve("egress/bookmarks").toUri.toString,
    keyCol = keyCol, tsCol = tsCol, tiebreakCol = tiebreakCol,
    platform = "clevertap", mappingPath = mappingPath(ctx),
    typeMap = typeMap, swapKeyMap = swapKeyMap)

  /** One fresh job run, timed; checked after the clock stops. Returns
    * (seconds, valid rows) when the run succeeded and passed its check. */
  private def runOnce(ctx: Ctx, run: String): Option[(Double, Long)] = {
    stub.reset()
    val client = new ClevertapClient(stub.url, "perfbench", "pass")
    val send: Seq[String] => (Int, String) = b => {
      val t0 = System.nanoTime()
      val r = client.uploadProfiles(b)
      PostLog.record(System.nanoTime() - t0)
      r
    }
    val c = conf(ctx, run)
    val out = ctx.attempt(s"$name/$run") { Util.timed(UserProfileJob.run(ctx.spark, c, send)) }
    lastResult = out.map(_._1)
    val checked = out.flatMap { case (res, secs) =>
      val problems = Seq(
        (res.validRows != expect.validRows) ->
          s"valid rows ${res.validRows}, fixture has ${expect.validRows} non-blank keys",
        (stub.records.get != res.validRows) ->
          s"stub received ${stub.records.get} records, job reports ${res.validRows}",
        (stub.posts.get != res.batches) -> s"stub saw ${stub.posts.get} posts, job made ${res.batches} batches",
        (res.okBatches != res.batches) -> s"${res.batches - res.okBatches} batches failed: ${res.firstError}",
        (res.batches == 0) -> "no batches",
        (!res.newBookmark.contains(expect.maxTs)) ->
          s"bookmark ${res.newBookmark}, fixture max commit time ${expect.maxTs}"
      ).collect { case (true, why) => why }
      problems.foreach(ctx.fail(s"$name/$run", _))
      if (problems.isEmpty) Some((secs, res.validRows)) else None
    }
    Util.progress(f"$name $run ${checked.fold("failed")(r => f"${r._1}%.3f s, ${r._2} records")}")
    Util.deleteRecursively(Paths.get(new java.net.URI(c.resultsPath)))
    checked
  }

  private def measured(runs: Seq[(Double, Long)], extra: Seq[(String, String)]): Measured = {
    val secs = runs.map(_._1)
    Measured(Summary.of(secs), Summary.geomean(secs),
      Summary.of(runs.map { case (s, n) => n / s }),
      extra ++ Seq("run_s" -> Json.arr(secs.map(Json.num)),
        "valid_rows" -> expect.validRows.toString,
        "stub_service_ms" -> serviceMs.toString))
  }

  def measure(ctx: Ctx): Measured = {
    try {
      val warm = (1 to warmUpRuns).flatMap(i => runOnce(ctx, s"warm-up-$i").map(_._1))
      val runs = mutable.ArrayBuffer.empty[(Double, Long)]
      val t0 = Util.nowS
      var i = 0
      while ((runs.size < minRuns && i < 2 * minRuns) || Util.nowS - t0 < ctx.seconds) {
        i += 1
        runs ++= runOnce(ctx, s"run-$i")
      }
      measured(runs.toSeq, Seq("warm_up_s" -> Json.arr(warm.map(Json.num))))
    } finally stopStub()
  }

  private def stopStub(): Unit = if (stub != null) { stub.stop(); stub = null }

  /** Median of three timed deliveries. */
  private def stageTime(df: org.apache.spark.sql.DataFrame): Double =
    Summary.median((1 to 3).map(_ => Util.timed(Util.deliver(df))._2))

  def trace(ctx: Ctx, tracer: Tracer): Traced = try {
    val spark = ctx.spark
    PostLog.clear()
    runOnce(ctx, "warm-up")
    // each public stage of the job delivered on its own; a stage's self
    // time is its delivery time minus the previous stage's
    val since = new ChangelogTableSource(spark, changelogPath(ctx), tsCol).since(None)
    val changes = since.filter(col("_change_type").isin("insert", "update_postimage"))
    val latest = Dedup.latestPerKey(changes, Seq(keyCol),
      Seq(col(tsCol).desc, col(tiebreakCol).desc))
    val typed = Sanity.swapKeys(Sanity.compileTypeMap(
      Sanity.extractAttributes(latest, keyCol +: attrs), typeMap), swapKeyMap)
    val tSource = stageTime(since)
    val tDedup = stageTime(latest)
    val tSanity = stageTime(typed)
    val sourceRows = since.count()
    val survivorRatio = latest.count().toDouble / changes.count()

    tracer.drain()
    val w0 = System.currentTimeMillis()
    val run = runOnce(ctx, "traced")
    tracer.drain()
    val w1 = System.currentTimeMillis()
    val jobs = tracer.jobsIn(w0, w1).sortBy(_.id)
    // the POST stage is the stage the send function ran in; its SQL
    // execution (adaptive execution runs each shuffle stage as a job of
    // its own) is the egress phase
    val postStages = PostLog.stages
      .filter(st => tracer.jobOf(st).exists(id => jobs.exists(_.id == id)))
    val egressExecutions = postStages.flatMap(tracer.jobOf)
      .flatMap(id => jobs.find(_.id == id)).map(_.execution)
    val egressAt = jobs.indexWhere(j => egressExecutions(j.execution))
    def phaseOf(i: Int, j: tracer.Job): String =
      if (egressExecutions(j.execution)) "egress"
      else if (j.callSite.contains("Bookmarks$.upsert")) "bookmark_upsert" // reads, then writes
      else if (j.callSite.contains("Bookmarks$.lookup")) "bookmark"
      else if (j.callSite.contains("HttpSink$.writeResults")) "audit"
      else if (egressAt < 0 || i < egressAt) "prepare"
      else "bookmark_upsert"
    val phaseS = jobs.zipWithIndex.groupBy { case (j, i) => phaseOf(i, j) }
      .map { case (p, js) => p -> js.map { case (j, _) => (j.end - j.start) / 1e3 }.sum }
    // latencies of the warm-up and traced runs' posts: enough that ten
    // or more lie beyond the 90th percentile
    val posts = PostLog.millis
    val egressTasks = postStages.toSeq.map(tracer.stageTasks).sum
    val layers = Seq(
      "source.since_s" -> tSource,
      "source.rows" -> sourceRows.toDouble,
      "dedup.latest_per_key_self_s" -> (tDedup - tSource),
      "dedup.survivor_ratio" -> survivorRatio,
      "transform.sanity_self_s" -> (tSanity - tDedup)) ++
      phases.map(p => s"jobs.phase_s.$p" -> phaseS.getOrElse(p, 0.0)) ++ Seq(
      "sink.posts" -> stub.posts.get.toDouble,
      "sink.post_p50_ms" -> (if (posts.isEmpty) 0.0 else Summary.percentile(posts, 0.5)),
      "sink.post_p90_ms" -> (if (posts.isEmpty) 0.0 else Summary.percentile(posts, 0.9)),
      "sink.bytes_sent" -> stub.bytes.get.toDouble,
      "sink.ok_ratio" -> lastResult.fold(0.0)(r => r.okBatches.toDouble / math.max(r.batches, 1L)),
      "sink.egress_tasks" -> egressTasks.toDouble)
    val jobList = jobs.zipWithIndex.map { case (j, i) => Json.obj(Seq(
      "job" -> j.id.toString, "execution" -> j.execution.toString,
      "phase" -> Json.str(phaseOf(i, j)), "s" -> Json.num((j.end - j.start) / 1e3),
      "call_site" -> Json.str(j.callSite.linesIterator.take(2).mkString(" < ")))) }
    Traced(layers, measured(run.toSeq, Seq("traced_jobs" -> Json.arr(jobList))), Seq((w0, w1)))
  } finally stopStub()
}
