package perfbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM side; `perfbench/run.py` builds it and starts it.
  *
  *   --workload query_mix|egress_fanout|stream_epochs  --seed N
  *   --seconds S  --trace 0|1  --work DIR  --data DIR  --reference FILE
  *   --result FILE  --detail FILE  [--untraced FILE]  --launched-ms T
  *   [--nproc N]
  *   [--commit C] [--source-sha256 H]
  *   --make-reference FILE   (writes the reference outputs and exits)
  *
  * Untraced (`--trace 0`): set-up, then the workload measured for at
  * least `--seconds`; the result holds the end-to-end metrics. Traced
  * (`--trace 1`): a fixed amount of traced work on every workload, so
  * every per-layer metric is measured; the engine metrics are those of
  * the requested workload. Either way the result JSON goes to --result
  * and everything behind it (quartiles, samples, facts) to --detail. */
object Main {
  val workloads: Seq[Workload] = Seq(QueryMix, Egress, StreamEpochs)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // Spark's task slots: the processor count the JVM was started with
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = Util.session(cores, work)
    val sessionS = (System.currentTimeMillis() - args("launched-ms").toLong) / 1e3
    val reference = args.get("reference").map(Paths.get(_)).filter(Files.exists(_))
      .map(p => Json.parse(Files.readString(p)))
    val ctx = new Ctx(spark, args.getOrElse("seed", "0").toLong,
      args.getOrElse("seconds", "10").toDouble, cores, work,
      Paths.get(args("data")).toAbsolutePath, reference)
    try args.get("make-reference") match {
      case Some(out) => makeReference(ctx, Paths.get(out))
      case None =>
        val w = workloads.find(_.name == args("workload")).getOrElse(
          sys.error(s"unknown workload ${args("workload")}"))
        val facts = Seq(
          "host" -> Json.str(java.net.InetAddress.getLocalHost.getHostName),
          "nproc" -> args.getOrElse("nproc", "null"),
          "task_slots" -> cores.toString,
          "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
          "spark" -> Json.str(spark.version),
          "java" -> Json.str(System.getProperty("java.version")),
          "commit" -> args.get("commit").fold("null")(Json.str),
          "source_sha256" -> args.get("source-sha256").fold("null")(Json.str),
          "seed" -> ctx.seed.toString,
          "seconds" -> Json.num(ctx.seconds),
          "stub_service_ms" -> Egress.serviceMs.toString)
        val (metrics, detail) =
          if (args.getOrElse("trace", "0") == "1") traced(ctx, w, args.get("untraced"))
          else untraced(ctx, w, sessionS)
        val failedRatio = ctx.failed.toDouble / math.max(ctx.attempted, 1)
        println(f"${w.name}: attempted ${ctx.attempted}, failed ${ctx.failed}, " +
          f"failed_ratio $failedRatio%.4f")
        ctx.failures.foreach(f => println(s"  failed: $f"))
        Files.writeString(Paths.get(args("detail")), Json.obj(Seq(
          "workload" -> Json.str(w.name), "unit_of_work" -> Json.str(w.unitOfWork),
          "facts" -> Json.obj(facts),
          "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString,
          "failed_ratio" -> Json.num(failedRatio),
          "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str))) ++ detail) + "\n")
        val result = Json.obj(Seq(
          "correct" -> (ctx.failed == 0).toString,
          "attempted" -> ctx.attempted.toString,
          "failed" -> ctx.failed.toString,
          "metrics" -> Json.obj(metrics.map { case (k, v, unit) =>
            k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
          })))
        Files.writeString(Paths.get(args("result")), result + "\n")
    } finally spark.stop()
  }

  private def untraced(ctx: Ctx, w: Workload, sessionS: Double)
      : (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val fixture = (1 to w.setupReps).map(_ => Util.timed(w.setup(ctx))._2)
    val setupS = sessionS + Summary.median(fixture)
    Util.progress(f"${w.name} set-up $setupS%.3f s (session $sessionS%.3f s)")
    val m = w.measure(ctx)
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", m.wall.median, "s"),
      ("op_geomean_s", m.opGeomean, "s"),
      ("rate_per_s", m.rate.median, "1/s"))
    metrics.foreach { case (k, v, u) => println(f"${w.name}: $k = $v%.4f $u") }
    println(s"${w.name}: wall_s quartiles ${m.wall.json}, rate_per_s quartiles ${m.rate.json}")
    (metrics, Seq(
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "fixture_s" -> Json.arr(fixture.map(Json.num)))),
      "e2e" -> Json.obj(metrics.map { case (k, v, _) => k -> Json.num(v) }),
      "wall_s" -> m.wall.json, "rate_per_s" -> m.rate.json) ++ m.details)
  }

  /** Every workload traced in turn; the engine metrics reported are
    * those of `requested`, the other layers come from the workload that
    * exercises them. Overhead = traced end-to-end minus untraced, when an
    * untraced result for the same workload and seed is on record. */
  private def traced(ctx: Ctx, requested: Workload, untracedPath: Option[String])
      : (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val tracer = new Tracer(ctx.spark)
    val parts = try workloads.map { w =>
      w.setup(ctx)
      val t = w.trace(ctx, tracer)
      tracer.drain()
      w -> (tracer.engine(t.windows, ctx.cores), t)
    }.toMap finally tracer.stop()
    val (engine, mine) = parts(requested)
    val layers = engine ++ workloads.flatMap(w => parts(w)._2.layers)
    val tracedE2e = Seq("wall_s" -> mine.e2e.wall.median, "op_geomean_s" -> mine.e2e.opGeomean,
      "rate_per_s" -> mine.e2e.rate.median)
    val overhead = untracedPath.map(Paths.get(_)).filter(Files.exists(_)).map { p =>
      val e2e = Json.parse(Files.readString(p)).get("e2e")
      Json.obj(tracedE2e.map { case (k, v) => k -> Json.num(v - e2e.get(k).asDouble()) })
    }.getOrElse(Json.str("no untraced result for this workload and seed on record"))
    layers.foreach { case (k, v) => println(f"${requested.name} traced: $k = $v%.6f") }
    (layers.map { case (k, v) => (k, v, unitOf(k)) }, Seq(
      "traced_e2e" -> Json.obj(tracedE2e.map { case (k, v) => k -> Json.num(v) }),
      "tracing_overhead" -> overhead,
      "engine_by_workload" -> Json.obj(workloads.map { w =>
        w.name -> Json.obj(parts(w)._1.map { case (k, v) => k -> Json.num(v) }) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })) ++
      workloads.map(w => s"${w.name}_traced" -> Json.obj(parts(w)._2.e2e.details)))
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") || m.contains(".phase_s.") => "s"
    case m if m.endsWith("_bytes") || m.endsWith("bytes_sent") => "bytes"
    case m if m.endsWith("_ratio") || m.endsWith("utilization") ||
      m.endsWith("skew") || m.endsWith("amplification") => "ratio"
    case _ => "count"
  }

  private def makeReference(ctx: Ctx, out: Path): Unit = {
    QueryMix.setup(ctx)
    val queries = QueryMix.reference(ctx)
    StreamEpochs.setup(ctx)
    val sections = Seq(QueryMix.name -> queries, StreamEpochs.name -> StreamEpochs.reference(ctx))
      .map { case (w, refs) => w -> Json.obj(refs.map { case (k, d) => k -> d.json }) }
    Files.writeString(out, Json.obj(sections) + "\n")
    Util.progress(s"reference written to $out")
  }
}
