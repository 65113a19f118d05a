package graft.perfbench

import graft.emu.KinesisEmu
import graft.ingest.DropStats
import graft.sink.KinesisWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** Deterministic records for the ingest workload. Each payload starts
  * with its id (and, for live events, the time it was due), so a reader
  * can prove every record arrived exactly once with identical bytes. */
final class Payloads(seed: Long, size: Int) {
  private val rnd = new scala.util.Random(seed)
  private val pool = Array.fill(1024)(rnd.alphanumeric.take(size).mkString)
  def value(id: Long, due: Long): String = {
    val head = f"$id%010d|$due|"
    head + pool(((id * 7919L + seed) & 1023).toInt).substring(0, math.max(0, size - head.length))
  }
  def key(id: Long): String = s"u${(id * 2654435761L + seed) % 4096}"
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }
  /** newline-terminated log lines of 60..300 bytes */
  def logLines(n: Int): Array[Array[Byte]] = {
    val r = new scala.util.Random(seed * 31 + 7)
    Array.tabulate(n) { i =>
      val len = 60 + r.nextInt(240)
      (s"$i ${pool(r.nextInt(1024)).take(len)}\n").getBytes("UTF-8")
    }
  }
}

/** Checks that ids arrived exactly once with the bytes they were sent
  * with. `expect(id)` gives the CRC32 each id must carry. */
final class ExactlyOnce(n: Int, expect: Long => Long) {
  private val seen = new Array[Byte](n)
  private val crcs = new Array[Long](n)
  var lost = 0L; var dup = 0L; var corrupt = 0L
  /** called on the consuming thread; the byte check waits for `finish` */
  def add(id: Long, crc: Long): Unit = synchronized {
    if (id < 0 || id >= n) corrupt += 1
    else if (seen(id.toInt) > 0) dup += 1
    else { seen(id.toInt) = 1; crcs(id.toInt) = crc }
  }
  def finish(): Long = synchronized {
    (0 until n).foreach { i =>
      if (seen(i) == 0) lost += 1
      else if (crcs(i) != expect(i.toLong)) corrupt += 1
    }
    lost + dup + corrupt
  }
}

/** What one live rate measured. */
final case class LiveRate(rate: Int, lagsMs: Seq[Double], sustained: Boolean,
                          backlogMax: Long, genLateMs: Double, lost: Long, dup: Long)

final case class IngestSize(pipeMiB: Int, backlog: Int, cap: Int, loadEpochs: Int,
                            rates: Seq[Int], recordBytes: Int)

object IngestSize {
  val Full = IngestSize(pipeMiB = 32, backlog = 100000, cap = 3200, loadEpochs = 5,
    rates = Seq(5000, 20000, 60000), recordBytes = 200)
  val Tiny = IngestSize(pipeMiB = 4, backlog = 5000, cap = 500, loadEpochs = 2,
    rates = Seq(2000), recordBytes = 200)
}

/** The `ingest` workload: the reference's own job through the `ingest`,
  * `sink`, `emu` and `sources` modules and the micro-batch engine. */
final class IngestWorkload(spark: SparkSession, work: java.io.File, seed: Long,
                           size: IngestSize, rec: Recorder, res: Result, cpus: Int) {
  import spark.implicits._
  private val payloads = new Payloads(seed, size.recordBytes)
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ck(name: String): String = new java.io.File(work, s"ck/$name").getPath
  // The emulator remembers committed (stream, epoch, partition) tokens for
  // the life of the JVM, so every stream gets a name no earlier query used.
  private def fresh(name: String): String = s"$name-${System.nanoTime()}"

  // ---------------------------------------------------------------- pipe

  var pipeRoundS = 0.0

  /** Closed-loop pipe rounds: log lines -> Flusher -> writeWithDrops ->
    * chunk -> batch -> PutRecords, one write at a time, for `budgetS`.
    * Each flush unit is one attempted operation. */
  def pipe(budgetS: Double): Unit = Trace.span("phase.pipe") {
    val lines = payloads.logLines(size.pipeMiB * 1024 * 1024 / 180)
    val bytes = lines.map(_.length.toLong).sum
    val want = new java.util.zip.CRC32
    lines.foreach(l => want.update(l))
    val cfg = KinesisWriter.Config("pipe", partitionKey = "pipe")
    val rounds = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    while (rounds.size < 2 || System.nanoTime() < deadline) {
      KinesisEmu.createStream("pipe", shards = 1)
      var units = 0L
      var drops = DropStats(0, 0, 0, 0)
      val t0 = System.nanoTime()
      val flusher = new KinesisWriter.Flusher(cfg, { unit =>
        drops = drops + Trace.span("ingest.write") { KinesisWriter.writeWithDrops(cfg, Seq(unit)) }
        units += 1 })
      Trace.span("pipe.round") { lines.foreach(flusher.write); flusher.flush() }
      rounds += (System.nanoTime() - t0) / 1e9
      // outside the timed round: the stream must hold the input bytes, in
      // order; a dropped unit is lost data
      res.attempted.addAndGet(units)
      val c = new java.util.zip.CRC32
      KinesisEmu.stream("pipe").get.shards.head.records.foreach(r => c.update(r.data))
      if (c.getValue != want.getValue) {
        res.failed.addAndGet(units)
        res.notes += s"pipe bytes differ (${drops.dropped} of ${drops.offered} units dropped)"
      }
      KinesisEmu.deleteStream("pipe")
      System.gc() // each round starts on a clean heap
    }
    res.put("ingest.pipe_mib_s", bytes / 1048576.0 / Stats.median(rounds.toSeq), "MiB/s")
    pipeRoundS = Stats.median(rounds.toSeq)
    Log(s"pipe: ${rounds.size} rounds, median $pipeRoundS s")
  }

  // ------------------------------------------------------------- backlog

  var loadS = 0.0
  var drainS = 0.0
  var drainBatchMs: Seq[Double] = Nil
  var drainPreStageS = 0.0

  /** Loads the backlog through the kinesis-emu streaming sink, then drains
    * it through the DSv2 source capped at `cap` records per micro-batch.
    * ProcessingTime(0) is used because Trigger.AvailableNow ignores read
    * limits for sources without SupportsTriggerAvailableNow, and would
    * drain the whole backlog in one micro-batch. */
  def backlog(): Unit = Trace.span("phase.backlog") {
    val n = size.backlog
    val stream = fresh("backlog")
    KinesisEmu.createStream(stream, shards = 4)
    val input = MemoryStream[(String, String)](4)
    val chunks = (0 until n).grouped(math.max(1, n / size.loadEpochs)).map(_.map(i =>
      (payloads.key(i), payloads.value(i, 0L)))).toSeq
    rec.progress.clear()
    System.gc() // the load and the drain each start on a clean heap
    val load = input.toDF().toDF("partitionKey", "value")
      .writeStream.format("kinesis-emu").option("stream", stream)
      .option("checkpointLocation", ck(s"$stream-load")).start()
    val t0 = System.nanoTime()
    Trace.span("backlog.load") {
      chunks.foreach { c =>
        Trace.span("sink.epoch") { input.addData(c); load.processAllAvailable() }
      }
    }
    loadS = (System.nanoTime() - t0) / 1e9
    load.stop()
    val loadProgress = rec.events()
    rec.progress.clear()
    res.put("ingest.sink_krec_s", n / loadS / 1e3, "krec/s")
    Log(s"backlog load: $n records in $loadS s")

    val check = new ExactlyOnce(n, i => payloads.crc(payloads.value(i, 0L)))
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val consume: (DataFrame, Long) => Unit = (df, _) => Trace.span("drain.batch") {
      val rows = df.select(
        substring_index(decode(col("data"), "UTF-8"), "|", 1).cast("long"),
        crc32(col("data"))).collect()
      rows.foreach(r => check.add(r.getLong(0), r.getLong(1)))
      got.addAndGet(rows.length)
    }
    System.gc()
    val t1 = System.nanoTime()
    val t1Ms = System.currentTimeMillis()
    rec.markQuery()
    val drain = spark.readStream.format("kinesis-emu").option("stream", stream)
      .option("maxRecordsPerTrigger", size.cap.toString).load()
      .writeStream.foreachBatch(consume)
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", ck(s"$stream-drain")).start()
    Trace.span("backlog.drain") {
      awaitRows(drain, () => got.get >= n, timeoutS = 60)
    }
    drainS = (System.nanoTime() - t1) / 1e9
    drain.processAllAvailable() // the last batch's progress is posted
    drain.stop()
    drainPreStageS = math.max(0L, rec.firstStageMs - t1Ms) / 1e3
    val drainProgress = rec.events()
    drainBatchMs = rec.batchMillis(drainProgress)
    val batches = drainBatchMs.size
    val want = (n + size.cap - 1) / size.cap
    res.attempted.addAndGet(n.toLong + 1)
    if (batches != want) res.fail(s"drain took $batches micro-batches, expected $want")
    val bad = check.finish()
    if (bad > 0) {
      res.failed.addAndGet(bad)
      res.notes += s"backlog lost=${check.lost} dup=${check.dup} corrupt=${check.corrupt}"
    }
    res.put("ingest.drain_krec_s", n / drainS / 1e3, "krec/s")
    Log(s"backlog drain: $batches batches in $drainS s")
    rec.putStreaming(res, drainProgress, loadProgress)
    KinesisEmu.deleteStream(stream)
  }

  private def awaitRows(q: StreamingQuery, done: () => Boolean, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!done() && q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
    q.exception.foreach(e => throw e)
  }

  // ---------------------------------------------------------------- live

  /** Open loop at `rate` events/s for `durS`: a generator thread stamps
    * each event with the time it was due and feeds the sink query
    * (1 s trigger, the reference's flush tick); a reader drains the same
    * stream concurrently. Lag runs from the due time to consumption. */
  def liveRate(rate: Int, durS: Double, idx: Int): LiveRate = Trace.span(s"live.r${rate / 1000}k") {
    val name = fresh(s"live$idx")
    KinesisEmu.createStream(name, shards = 4)
    val total = (rate * durS).toInt
    val dues = new Array[Long](total)
    val input = MemoryStream[(String, String)](cpus)
    val sink = input.toDF().toDF("partitionKey", "value")
      .writeStream.format("kinesis-emu").option("stream", name)
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", ck(s"$name-sink")).start()
    val check = new ExactlyOnce(total, i => payloads.crc(payloads.value(i, dues(i.toInt))))
    val lags = mutable.ArrayBuffer[Double]()
    val consumed = new java.util.concurrent.atomic.AtomicLong(0)
    val consume: (DataFrame, Long) => Unit = (df, _) => Trace.span("live.read") {
      val rows = df.select(
        substring_index(decode(col("data"), "UTF-8"), "|", 1).cast("long"),
        substring_index(substring_index(decode(col("data"), "UTF-8"), "|", 2), "|", -1).cast("long"),
        crc32(col("data"))).collect()
      val now = Trace.now()
      rows.foreach { r =>
        check.add(r.getLong(0), r.getLong(2))
        lags += (now - r.getLong(1)) / 1e6
      }
      consumed.addAndGet(rows.length)
    }
    val reader = spark.readStream.format("kinesis-emu").option("stream", name).load()
      .writeStream.foreachBatch(consume).trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", ck(s"$name-read")).start()

    val sent = new java.util.concurrent.atomic.AtomicLong(0)
    var genLate = 0.0
    val backlogSamples = mutable.ArrayBuffer[(Double, Long)]()
    val gen = new Thread(() => {
      val t0 = Trace.now()
      val period = 1e9 / rate
      var i = 0
      while (i < total) {
        val now = Trace.now()
        val upTo = math.min(total, ((now - t0) / period).toInt + 1)
        if (upTo > i) {
          genLate = math.max(genLate, (now - (t0 + (i * period).toLong)) / 1e6)
          val batch = (i until upTo).map { j =>
            val due = t0 + (j * period).toLong
            dues(j) = due
            (payloads.key(j), payloads.value(j, due))
          }
          input.addData(batch)
          i = upTo
          sent.set(i)
        }
        Thread.sleep(1)
      }
    }, "perfbench-live-gen")
    // Spark fires a 1 s processing-time trigger on whole wall-clock
    // seconds, so the generator starts on one too: every rate then sees
    // the same phase between event times and trigger times.
    Thread.sleep(1000 - System.currentTimeMillis() % 1000)
    val tStart = System.nanoTime()
    gen.start()
    while (gen.isAlive) {
      backlogSamples += (((System.nanoTime() - tStart) / 1e9, sent.get - consumed.get))
      Thread.sleep(50)
    }
    gen.join()
    // let both queries catch up with everything that was sent
    sink.processAllAvailable()
    reader.processAllAvailable()
    sink.stop(); reader.stop()
    KinesisEmu.deleteStream(name)
    val bad = check.finish()
    res.attempted.addAndGet(total.toLong)
    if (bad > 0) {
      res.failed.addAndGet(bad)
      res.notes += s"live r$rate lost=${check.lost} dup=${check.dup} corrupt=${check.corrupt}"
    }
    val (first, second) = backlogSamples.partition(_._1 < durS / 2)
    val maxOf = (xs: Seq[(Double, Long)]) => if (xs.isEmpty) 0L else xs.map(_._2).max
    val sustained = maxOf(second.toSeq) <= 1.5 * maxOf(first.toSeq) + 0.25 * rate
    Log(s"live r$rate: sent $total, lost ${check.lost}, sustained $sustained")
    LiveRate(rate, lags.toSeq, sustained, maxOf(backlogSamples.toSeq), genLate,
      check.lost, check.dup)
  }

  var liveLagMs: Seq[Double] = Nil

  def live(budgetS: Double): Unit = Trace.span("phase.live") {
    val per = budgetS / size.rates.size
    val results = size.rates.zipWithIndex.map { case (r, i) => liveRate(r, per, i) }
    val mid = results(results.size / 2)
    liveLagMs = mid.lagsMs
    val sus = results.filter(_.sustained)
    res.put("ingest.live_sustained_krec_s",
      if (sus.isEmpty) 0.0 else sus.map(_.rate).max / 1e3, "krec/s")
    res.put("live.backlog_max_records", results.map(_.backlogMax).max.toDouble, "count")
    res.put("live.lost_records", results.map(_.lost).sum.toDouble, "count")
    res.put("live.dup_records", results.map(_.dup).sum.toDouble, "count")
    results.foreach { r =>
      res.put(s"live.lag_p50_ms.r${r.rate / 1000}k",
        if (r.lagsMs.isEmpty) 0.0 else Stats.median(r.lagsMs), "ms")
      res.put(s"live.gen_late_ms_max.r${r.rate / 1000}k", r.genLateMs, "ms")
    }
  }
}
