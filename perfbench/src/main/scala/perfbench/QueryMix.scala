package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** Read-only analytics: each pass delivers every query of the mix once,
  * to a `noop` write (the whole plan runs; nothing is collected). The
  * cold check pass and the warm-up passes run in the mix's fixed order,
  * each timed pass in an order the seed shuffles. Engine work dominates;
  * there is no sink and no stream. Callers are closed-loop: one query
  * at a time. */
object QueryMix extends Workload {
  val name = "query_mix"
  val unitOfWork = "one pass of the mix; rate_per_s counts queries delivered"
  val setupReps = 3
  /** Warm-up passes after the cold check pass. */
  val warmUpPasses = 3
  /** Timed passes per run, at least, so that runs time the same passes. */
  val minPasses = 5

  /** (query, group, module). Groups: heavy = compute and shuffle bound;
    * count_pruned = a count() would drop most of the plan; tail =
    * sub-second, planning and job-launch bound. Module = the package of
    * the operators the query spends its time in. */
  val mix: Seq[(String, String, String)] = Seq(
    ("q40_minhash_neardups", "heavy", "dedup"),
    ("q29_quality_score", "count_pruned", "analyze"),
    ("q24_fix_dob", "count_pruned", "transform"),
    ("q35_cube", "tail", "relational"),
    ("q09_window_latest_order", "tail", "dedup"),
    ("q26_payload_envelope", "tail", "transform"))

  val modules: Seq[String] = Seq("relational", "dedup", "analyze", "transform")
  val tables: Seq[String] = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "orders")

  private def dir(ctx: Ctx) = ctx.data.toString

  /** Fixture: open every input table and scan it once. */
  def setup(ctx: Ctx): Unit =
    tables.foreach(t => graft.Tables.load(ctx.spark, dir(ctx), t).count())

  private def result(ctx: Ctx, q: String) = SparkEntry.queries(q)(ctx.spark, dir(ctx))

  /** Digest each query's output against the stored reference; returns
    * the queries that passed. Runs cold, with the clock stopped, in the
    * mix's fixed order. */
  private def checkAll(ctx: Ctx): Seq[String] =
    mix.map(_._1).filter { q =>
      ctx.attempt(s"$name/$q check")(Digest.of(result(ctx, q)))
        .exists(ctx.check(name, q, _))
    }

  /** One pass in `order`; a query that throws yields None. */
  private def pass(ctx: Ctx, order: Seq[String], label: String): Seq[(String, Option[Double])] = {
    System.gc()
    order.map { q =>
      val t = ctx.attempt(s"$name/$q $label") { Util.timed(Util.deliver(result(ctx, q)))._2 }
      Util.progress(f"$name $label $q ${t.fold("failed")(s => f"$s%.3f s")}")
      q -> t
    }
  }

  /** Warm-up passes over `ok` in the mix's fixed order, so that every
    * run's JIT sees the same sequence whatever the seed; the totals. */
  private def warmUp(ctx: Ctx, ok: Seq[String], passes: Int): Seq[Double] =
    (1 to passes).map(i => pass(ctx, ok, s"warm-up $i").flatMap(_._2).sum)

  /** Only passes in which every query was delivered count. */
  private def summarize(passes: Seq[Seq[(String, Option[Double])]], ok: Seq[String],
                        extra: Seq[(String, String)]): Measured = {
    val complete = passes.filter(p => p.size == ok.size && p.forall(_._2.isDefined))
      .map(_.map { case (q, t) => q -> t.get })
    val totals = complete.map(_.map(_._2).sum)
    val perQuery = ok.map { q =>
      q -> Summary.of(complete.flatMap(_.collect { case (`q`, t) => t }))
    }
    Measured(Summary.of(totals), Summary.geomean(perQuery.map(_._2.median)),
      Summary.of(complete.map(p => p.size / p.map(_._2).sum)),
      extra ++ Seq(
        "pass_totals_s" -> Json.arr(totals.map(Json.num)),
        "per_query_s" -> Json.obj(perQuery.map { case (q, s) => q -> s.json })))
  }

  def measure(ctx: Ctx): Measured = {
    val rng = new scala.util.Random(ctx.seed)
    val ok = checkAll(ctx)
    mix.map(_._1).filterNot(ok.contains).foreach(q => Util.progress(s"$name: $q is left out of timing"))
    val warm = warmUp(ctx, ok, warmUpPasses)
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Option[Double])]]
    val t0 = Util.nowS
    while (passes.size < minPasses || Util.nowS - t0 < ctx.seconds)
      passes += pass(ctx, rng.shuffle(ok), s"pass ${passes.size + 1}")
    summarize(passes.toSeq, ok, Seq("warm_up_totals_s" -> Json.arr(warm.map(Json.num))))
  }

  def trace(ctx: Ctx, tracer: Tracer): Traced = {
    val rng = new scala.util.Random(ctx.seed)
    val ok = checkAll(ctx)
    warmUp(ctx, ok, 1)
    tracer.drain()
    val t0 = System.currentTimeMillis()
    val traced = pass(ctx, rng.shuffle(ok), "traced")
    val t1 = System.currentTimeMillis()
    val byQuery = traced.collect { case (q, Some(t)) => q -> t }.toMap
    val layers = modules.map { m =>
      s"$m.wall_s" -> mix.collect { case (q, _, `m`) => byQuery.getOrElse(q, 0.0) }.sum
    }
    Traced(layers, summarize(Seq(traced), ok, Nil), Seq((t0, t1)))
  }

  def reference(ctx: Ctx): Seq[(String, Digest)] =
    mix.map { case (q, _, _) => q -> Digest.of(result(ctx, q)) }
}
