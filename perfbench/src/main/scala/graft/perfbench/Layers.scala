package graft.perfbench

/** The traced run: three windows of one workload on one seed —
  * (a) over the gateway, (b) in process with spans off, (c) in process
  * with spans and the job listener on — reduced to per-layer metrics.
  * Each metric names the end-to-end metric it should move (README.md).
  */
object Layers {

  final case class Result(recorders: Seq[Recorder], metrics: Seq[Metric], tableJson: String,
      gatewayWindow: Window, spans: Seq[Span])

  /** Which end-to-end metric each span's self time should move. */
  val moves: Map[String, String] = Map(
    "request" -> "benchmark glue between the calls",
    "registry.get" -> "negligible everywhere",
    "session.exec" -> "p50_ms on tpch_mix; write_p50_ms on ycsb_point; read_p50_ms on lake_ingest",
    "catalyst.parsing" -> "p50_ms on tpch_mix (plan-cache misses)",
    "catalyst.analysis" -> "p50_ms, ops_per_s on tpch_mix",
    "catalyst.optimization" -> "p50_ms, ops_per_s on tpch_mix",
    "catalyst.planning" -> "p50_ms, ops_per_s on tpch_mix",
    "spark.job" -> "ops_per_s, p95_ms on tpch_mix; read_p50_ms on ycsb_point; read_p95_ms on lake_ingest",
    "arrow.prepare" -> "p50_ms on tpch_mix",
    "arrow.encode" -> "p50_ms on tpch_mix; scans on ycsb_point",
    "arrow.decode" -> "p50_ms on tpch_mix; scans on ycsb_point")

  /** Each window gets a third of `ctx.seconds`, so a traced run measures
    * as long as an untraced one.
    */
  def run(wl: Workload, ctx: Ctx, gateway: Arm): Result = {
    val seconds = ctx.seconds / 3
    val registry = wl.server.registry
    val untracedRoutes = new Routes
    val tracedRoutes = new Routes
    val tracer = new Tracer
    val listener = new JobListener(tracer)
    val wa = wl.window(gateway, seconds)
    val wb = wl.window(Arm("inproc", c => new InProcConn(registry, c.sessionKey, None, untracedRoutes)),
      seconds)
    val sc = ctx.spark.sparkContext
    sc.addSparkListener(listener)
    val wc =
      try wl.window(Arm("traced", c => new InProcConn(registry, c.sessionKey, Some(tracer), tracedRoutes)),
        seconds)
      finally {
        org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    val all = Seq(wa, wb, wc)
    wl.finalCheck(wc.rec)

    val requests = tracedRoutes.requests.get.toInt
    val layers = Reducer.layers(tracer.all, requests).map(l => l.name -> l).toMap
    def selfP50(n: String) = layers.get(n).map(_.selfP50).getOrElse(0.0)
    val p50 = (w: Window) => Stats.pct(w.rec.all, 0.5)
    val perKindCost = wa.rec.kindNames.filter(k => wb.rec.kindNames.contains(k)).map { k =>
      Metric(s"gateway.cost_ms.$k",
        Stats.pct(wa.rec.samples(k).values, 0.5) - Stats.pct(wb.rec.samples(k).values, 0.5), "ms")
    }
    import scala.jdk.CollectionConverters._
    val accs = listener.byReq.values().asScala.toSeq
    def perReq(f: JobListener#Acc => Long): Double =
      if (requests == 0) 0.0 else accs.map(f).sum.toDouble / requests
    val r = tracedRoutes
    val planBase = r.planHit.get + r.planMiss.get
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val gcMs = (wa.jvm1.gcMs - wa.jvm0.gcMs).toDouble
    val metrics =
      Seq(Metric("gateway.cost_ms", p50(wa) - p50(wb), "ms")) ++ perKindCost ++
      Seq(
        Metric("registry.get_ms", selfP50("registry.get"), "ms"),
        Metric("session.exec_ms", selfP50("session.exec"), "ms")) ++
      r.asSeq.map { case (k, v) => Metric(s"session.route.$k", v.toDouble, "count") } ++
      Seq(
        Metric("session.plan_hit_ratio", ratio(r.planHit.get, planBase), "ratio"),
        Metric("session.plan_hit_ratio.base", planBase.toDouble, "count"),
        Metric("point.fast_share", ratio(r.pointFast.get, r.pointShaped.get), "ratio"),
        Metric("point.fast_share.base", r.pointShaped.get.toDouble, "count"),
        Metric("catalyst.analyze_ms", selfP50("catalyst.analysis"), "ms"),
        Metric("catalyst.optimize_ms", selfP50("catalyst.optimization"), "ms"),
        Metric("catalyst.plan_ms", selfP50("catalyst.planning"), "ms"),
        Metric("spark.jobs", perReq(_.jobs.get), "count"),
        Metric("spark.stages", perReq(_.stages.get), "count"),
        Metric("spark.tasks", perReq(_.tasks.get), "count"),
        Metric("spark.task_cpu_ms", perReq(_.cpuNs.get) / 1e6, "ms"),
        Metric("spark.shuffle_bytes", perReq(_.shuffleBytes.get), "B"),
        Metric("spark.job_ms", selfP50("spark.job"), "ms"),
        Metric("arrow.prepare_ms", selfP50("arrow.prepare"), "ms"),
        Metric("arrow.encode_ms", selfP50("arrow.encode"), "ms"),
        Metric("arrow.decode_ms", selfP50("arrow.decode"), "ms"),
        Metric("arrow.bytes", ratio(r.arrowBytes.get, requests), "B"),
        Metric("arrow.rows", ratio(r.arrowRows.get, requests), "count")) ++
      LakeStats.metrics(wc) ++
      Seq(
        Metric("jvm.gc_ms", gcMs, "ms"),
        Metric("jvm.gc_share", gcMs / ((wa.jvm1.wallNs - wa.jvm0.wallNs) / 1e6), "ratio"),
        Metric("jvm.jit_ms", (wa.jvm1.jitMs - wa.jvm0.jitMs).toDouble, "ms"),
        Metric("bench.gen_late_p95_ms", wa.extra.getOrElse("gen_late_p95_ms", 0.0), "ms"),
        Metric("bench.trace_overhead", p50(wc) / p50(wb) - 1, "ratio"),
        Metric("bench.traced_requests", requests.toDouble, "count"))
    val table = Json.obj(layers.values.toSeq.sortBy(_.name).map { l =>
      l.name -> Json.obj(Seq("count" -> l.count.toString, "self_p50_ms" -> Json.num(l.selfP50),
        "self_total_ms" -> Json.num(l.selfTotal), "self_ms_per_request" -> Json.num(l.perReqMean)))
    })
    layers.values.toSeq.sortBy(_.name).foreach { l =>
      println(f"${wl.name} layer ${l.name}%-22s count ${l.count}%6d self_p50_ms ${l.selfP50}%10.3f " +
        f"self_total_ms ${l.selfTotal}%12.3f per_request_ms ${l.perReqMean}%10.3f  moves: ${moves.getOrElse(l.name, "-")}")
    }
    Result(all.map(_.rec), metrics, table, wa, tracer.all)
  }
}
