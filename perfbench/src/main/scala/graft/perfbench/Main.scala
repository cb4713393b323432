package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Served-path benchmark entry point.
  *
  * {{{
  * Main --workload tpch_mix|ycsb_point|lake_ingest --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Starts the program's SQL gateway in this JVM and drives it through its
  * socket with `HttpSqlClient` prepared statements and Arrow decode. Prints
  * one `workload metric value unit` line per metric and writes the full
  * record (every metric, per-kind latencies, host context, per-layer
  * table) as JSON to `--out`. With `--trace 1` the workload runs three
  * windows of a third of `--seconds` on one seed: over the gateway, in
  * process, and in process with spans and a job listener; the per-layer
  * metrics come from those.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")))
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "tpch_mix" => new TpchMix(ctx)
    case "ycsb_point" => new YcsbPoint(ctx)
    case "lake_ingest" => new LakeIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - startMs) / 1000.0}%7.1f s $what")
    Files.createDirectories(a.work)
    val spark = graft.Engine.newSession("perfbench", graft.Engine.defaultCores,
      Map("spark.local.dir" -> a.work.resolve("spark-local").toString))
    val host0 = Host.before()
    val ctx = Ctx(spark, a.seed, a.seconds, a.work)
    val wl = workload(a.workload, ctx)
    val metrics = Seq.newBuilder[Metric]
    val record = Seq.newBuilder[(String, String)]
    var rec: Seq[Recorder] = Nil
    try {
      val bootMs = System.currentTimeMillis() - startMs
      def timedMs(f: => Unit): Long = { val t0 = System.currentTimeMillis(); f; System.currentTimeMillis() - t0 }
      log("spark up")
      val inputsMs = timedMs(wl.prepareInputs())
      log("inputs ready")
      val serverMs = timedMs(wl.setupServer())
      log("server set up")
      val warmupMs = timedMs(wl.warmup())
      log("warmed up")
      metrics += Metric("setup_s", (bootMs + serverMs + warmupMs) / 1000.0, "s")
      metrics += Metric("setup.boot_s", bootMs / 1000.0, "s")
      metrics += Metric("setup.server_s", serverMs / 1000.0, "s")
      metrics += Metric("setup.warmup_s", warmupMs / 1000.0, "s")
      metrics += Metric("bench.inputs_s", inputsMs / 1000.0, "s")
      val gateway = Arm("gateway", c => new GatewayConn(c))
      if (!a.trace) {
        val w = wl.window(gateway, a.seconds)
        wl.finalCheck(w.rec)
        rec = Seq(w.rec)
        metrics ++= Report.endToEnd(wl, w)
        metrics += Metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
        record += "latency_by_kind" -> Report.kindsJson(w)
      } else {
        val layered = Layers.run(wl, ctx, gateway)
        rec = layered.recorders
        metrics ++= layered.metrics
        record += "layers" -> layered.tableJson
        record += "latency_by_kind" -> Report.kindsJson(layered.gatewayWindow)
        val spansOut = a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
        Files.createDirectories(spansOut.toAbsolutePath.getParent)
        Files.write(spansOut, layered.spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      log("measured")
      val (steal, external) = Host.since(host0)
      metrics += Metric("host.nproc", Host.nproc, "count")
      metrics += Metric("host.loadavg_1m", Host.loadAvg1m, "load")
      metrics += Metric("host.steal_cores", steal, "cores")
      metrics += Metric("host.external_cores", external, "cores")
    } finally {
      try wl.close() finally spark.stop()
      log("stopped")
    }
    val ms = metrics.result()
    ms.foreach(m => println(s"${a.workload} ${m.name} ${Json.num(m.value)} ${m.unit}"))
    val attempted = rec.map(_.attempted.get).sum
    val failed = rec.map(_.errors).sum
    rec.flatMap(_.messages).foreach(msg => System.err.println(s"[perfbench] wrong or failed: $msg"))
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "1" else "0"),
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(ms.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "errors" -> rec.flatMap(_.messages).map(Json.str).mkString("[", ",", "]")) ++ record.result())
    Files.createDirectories(a.out.toAbsolutePath.getParent)
    Files.write(a.out, json.getBytes(StandardCharsets.UTF_8))
  }
}
