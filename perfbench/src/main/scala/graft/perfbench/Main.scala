package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run inside one JVM: set-up, the timed workload, the
  * traced layer probes (with --trace 1) and the result file.
  * `perfbench/run.py` builds, launches and checks it.
  *
  * Usage: Main --workload ingest|neardup --seed N --seconds S
  *             --trace 0|1 --work DIR --data DIR --size full|tiny
  *             --out FILE --spans FILE
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new java.io.File(args("work"))
    val data = args("data")
    val tiny = args("size") == "tiny"
    val cpus = Runtime.getRuntime.availableProcessors
    val res = new Result
    if (traced) Trace.start(s"$workload-$seed-${System.currentTimeMillis()}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // One set-up, timed from JVM start: a session, the inputs ready and
    // a warm-up job.
    val spark = Session.create(work, cpus, new java.io.File(work, "mat-setup"))
    val rec = new Recorder(spark)
    Log(s"session after ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s from JVM start")
    Trace.span("setup") { warm(workload, spark, work, data, seed, rec, cpus) }
    res.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")
    Log(s"setup: ${res.metrics("setup_s")._1} s")

    System.gc()
    HeapWatch.install()
    HeapWatch.start()
    val pub0 = graft.core.Materialize.publishCount
    rec.reset()
    val wall0 = System.nanoTime()
    var preStage = 0.0
    Trace.span(s"workload.$workload") {
      workload match {
        case "ingest" =>
          val size = if (tiny) IngestSize.Tiny else IngestSize.Full
          val w = new IngestWorkload(spark, work, seed, size, rec, res, cpus)
          w.pipe(0.2 * seconds)
          w.backlog()
          preStage = w.drainPreStageS
          w.live(0.6 * seconds)
          res.put("total_s", w.loadS + w.drainS, "s")
          res.put("geomean_s", Stats.geomean(Seq(w.pipeRoundS, w.loadS, w.drainS)), "s")
          opLatency(res, w.liveLagMs)
          batchLatency(res, w.drainBatchMs)
        case "neardup" =>
          val entries = Queries.NearDup
          val q = new Queries.Runner(spark, data, rec, res)
          // The oracle check pass, untimed: every entry's full result as
          // parquet over an empty materialization dir (the build path). It
          // also warms the JIT for the timed rounds. The self-test size
          // checks the serve path too.
          Queries.writeOracleSql(entries, work)
          Trace.span("check") {
            Session.useMatDir(spark, new java.io.File(work, "mat-check"))
            q.dumpForOracle(entries, new java.io.File(work, "verify-build"))
            if (tiny) q.dumpForOracle(entries, new java.io.File(work, "verify-serve"))
          }
          rec.reset()
          val deadline = System.nanoTime() + (seconds * 1e9).toLong
          var round = 0
          val passTotals = mutable.Map[String, mutable.ArrayBuffer[Double]]()
          val publishes = mutable.Map[String, Long]().withDefaultValue(0L)
          def timedPass(pass: String): Unit = {
            val p0 = graft.core.Materialize.publishCount
            val s = q.pass(entries, pass, seed * 1000 + round, timed = true)
            publishes(pass) += graft.core.Materialize.publishCount - p0
            passTotals.getOrElseUpdate(pass, mutable.ArrayBuffer()) += s
          }
          // three rounds at least, so that each entry's median outlasts one
          // slow round; the first runs on a JIT warmed only by the check pass
          while (round < 3 || System.nanoTime() < deadline) {
            // build: a cold pass over an empty materialization dir;
            // serve: the same queries again over what it published
            Session.useMatDir(spark, new java.io.File(work, s"mat-round$round"))
            timedPass("build")
            timedPass("serve")
            round += 1
          }
          val perEntry = q.times.toSeq.map { case ((n, p), xs) => (n, p, Stats.median(xs.toSeq)) }
          perEntry.foreach { case (n, p, m) =>
            res.put(s"query.${Queries.short(n)}_s" + (if (p == "serve") ".serve" else ""), m, "s")
          }
          q.times.toSeq.groupBy(_._1._1).foreach { case (n, xs) =>
            res.put(s"evals.$n", xs.map(_._2.size).sum.toDouble, "count")
          }
          val build = Stats.median(passTotals("build").toSeq)
          val serve = Stats.median(passTotals("serve").toSeq)
          res.put("neardup.build_s", build, "s")
          res.put("neardup.serve_s", serve, "s")
          res.put("total_s", build + serve, "s")
          res.put("core.mat_publishes.build", publishes("build").toDouble / round, "count")
          res.put("core.mat_publishes.serve", publishes("serve").toDouble / round, "count")
          res.put("geomean_s", Stats.geomean(perEntry.map(_._3)), "s")
          res.put("query.passes", round.toDouble, "count")
          opLatency(res, q.samplesMs)
          val evs = rec.events()
          batchLatency(res, rec.batchMillis(evs))
          rec.putStreaming(res, evs, evs)
          preStage = q.preStageS
          // the ingest layers are not exercised here
          Seq("ingest.pipe_mib_s" -> "MiB/s", "ingest.sink_krec_s" -> "krec/s",
            "ingest.drain_krec_s" -> "krec/s", "ingest.live_sustained_krec_s" -> "krec/s",
            "live.backlog_max_records" -> "count",
            "live.lost_records" -> "count", "live.dup_records" -> "count")
            .foreach { case (k, u) => res.put(k, 0.0, u) }
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val live = HeapWatch.stop()
    res.put("heap_live_mib", if (live.isEmpty) 0.0 else live.max, "MiB")
    res.put("heap.collections", live.size.toDouble, "count")
    rec.putStageTotals(res, rec.snapshot(), wallS, cpus, preStage)
    res.put("core.mat_publishes", (graft.core.Materialize.publishCount - pub0).toDouble, "count")
    if (!res.metrics.contains("core.mat_publishes.build")) {
      res.put("core.mat_publishes.build", 0.0, "count")
      res.put("core.mat_publishes.serve", 0.0, "count")
    }

    if (traced) {
      val payloads = new Payloads(seed, 200)
      val docs = spark.read.parquet(s"$data/documents.parquet").select("text")
        .collect().map(_.getString(0)).toSeq
      val (depths, cap) =
        if (tiny) (Seq("b100k" -> 10000, "b1m" -> 100000), 200)
        else (Seq("b100k" -> 100000, "b1m" -> 1000000), 2500)
      LayerProbes.run(res, seed, payloads.logLines(if (tiny) 20000 else 200000),
        docs, depths, cap)
      Trace.selfTimes().toSeq.sortBy(_._1).foreach { case (n, s) =>
        res.put(s"self.$n", s, "s") }
    }
    res.put("rss_peak_mib", peakRssMiB(), "MiB")
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), res.toJson)
    if (traced) Trace.writeJsonl(args("spans"))
    System.exit(0)
  }

  /** Inputs ready plus one warm-up job: the corpus footers and a small
    * aggregation for the query workloads; a tiny sink-and-drain round
    * trip through the emulator for ingest. */
  private def warm(workload: String, spark: SparkSession, work: java.io.File, data: String,
                   seed: Long, rec: Recorder, cpus: Int): Unit = workload match {
    case "ingest" =>
      val w = new IngestWorkload(spark, new java.io.File(work, s"warm-${System.nanoTime()}"),
        seed, IngestSize.Tiny.copy(backlog = 20000), rec, new Result, cpus)
      w.backlog()
    case "neardup" =>
      graft.core.SchemaProbe.report(spark, data)
      Log("inputs ready")
      graft.core.Tables.lineitem(spark, data).groupBy("l_returnflag").count().collect()
  }

  private def opLatency(res: Result, ms: Seq[Double]): Unit = {
    res.put("op_p50_ms", Stats.pct(ms, 50), "ms")
    res.put("op_p90_ms", Stats.pct(ms, 90), "ms")
    res.put("op.samples", ms.size.toDouble, "count")
  }

  private def batchLatency(res: Result, ms: Seq[Double]): Unit = {
    res.put("batch_p50_ms", if (ms.isEmpty) 0.0 else Stats.pct(ms, 50), "ms")
    res.put("batch_p90_ms", if (ms.isEmpty) 0.0 else Stats.pct(ms, 90), "ms")
    res.put("batch.samples", ms.size.toDouble, "count")
  }

  private def peakRssMiB(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
