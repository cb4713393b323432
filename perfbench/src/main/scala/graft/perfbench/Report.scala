package graft.perfbench

/** End-to-end metrics of one untraced window. */
object Report {

  /** p50 and the reported tail of a sample set, plus the tail's
    * percentile and the sample count, under `prefix`.
    */
  def latency(prefix: String, xs: Array[Double]): Seq[Metric] = {
    val (p, tail) = Stats.tail(xs)
    Seq(Metric(s"${prefix}p50_ms", Stats.pct(xs, 0.5), "ms"),
      Metric(s"${prefix}p95_ms", tail, "ms"),
      Metric(s"${prefix}p95_ms.percentile", p, "pct"),
      Metric(s"${prefix}samples", xs.length, "count"))
  }

  def endToEnd(wl: Workload, w: Window): Seq[Metric] = {
    val attempted = w.rec.attempted.get
    val gcMs = (w.jvm1.gcMs - w.jvm0.gcMs).toDouble
    Seq(Metric("ops_per_s", w.rec.rate(wl.counted, w.jvm0.wallNs), "op/s")) ++
      latency("", w.rec.all) ++
      Seq(Metric("error_share", if (attempted == 0) 1.0 else w.rec.errors.toDouble / attempted, "ratio")) ++
      (if (wl.readKinds.isEmpty) Nil else latency("read_", w.rec.values(wl.readKinds))) ++
      (if (wl.writeKinds.isEmpty) Nil else latency("write_", w.rec.values(wl.writeKinds))) ++
      wl.extraMetrics(w) ++
      Seq(Metric("jvm.gc_ms", gcMs, "ms"),
        Metric("jvm.gc_share", gcMs / ((w.jvm1.wallNs - w.jvm0.wallNs) / 1e6), "ratio"),
        Metric("jvm.jit_ms", (w.jvm1.jitMs - w.jvm0.jitMs).toDouble, "ms"))
  }

  /** Per op kind: count, p50, tail and mean latency (the full record's
    * per-query table for tpch_mix).
    */
  def kindsJson(w: Window): String = Json.obj(w.rec.kindNames.map { k =>
    val xs = w.rec.samples(k).values
    k -> Json.obj(Seq("count" -> xs.length.toString,
      "p50_ms" -> Json.num(Stats.pct(xs, 0.5)), "max_ms" -> Json.num(if (xs.isEmpty) Double.NaN else xs.max),
      "mean_ms" -> Json.num(if (xs.isEmpty) Double.NaN else xs.sum / xs.length)))
  })
}
