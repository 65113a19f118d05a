package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** The benchmark's session: `local[cpus]` with the bench-style conf, and
  * every directory the program writes (shuffle and spill files, published
  * tables, replay checkpoints, warehouse) under the run's own scratch. */
object Session {
  def create(work: java.io.File, cpus: Int, matDir: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.graft.mat.dir", matDir.getPath)
      .config("spark.graft.replay.root", new java.io.File(work, "replay").getPath)
      // scratch checkpoints, deleted with the run (Replay does the same)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // local files without a child process per chmod or readlink
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Point later publishes and serves at another materialization dir. */
  def useMatDir(s: SparkSession, dir: java.io.File): Unit =
    s.conf.set("spark.graft.mat.dir", dir.getPath)
}

/** Hadoop's raw local file system with `setPermission` and
  * `getFileLinkStatus` done in the JVM. Without Hadoop's native library
  * the stock one starts a `chmod` process for every file it creates and
  * a `readlink` process for every rename target, so each micro-batch's
  * checkpoint writes cost a few process starts, whose time follows the
  * host's load rather than the program. */
class NoForkLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import java.nio.file.Files
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val rwx = Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction)
      .map(a => a.SYMBOL).mkString
    try Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(rwx))
    catch { case e: java.nio.file.NoSuchFileException =>
      throw new java.io.FileNotFoundException(e.getMessage) }
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** Spark stage totals: count, task/CPU/GC time, shuffle and spill bytes. */
final case class Totals(stages: Long = 0, taskMs: Long = 0, cpuNs: Long = 0,
                        gcMs: Long = 0, shReadB: Long = 0, shWriteB: Long = 0,
                        spillB: Long = 0)

/** Stage totals and streaming progress, read from Spark's public
  * listener APIs. Totals accumulate from the last `reset`. */
final class Recorder(spark: SparkSession) extends SparkListener {
  @volatile private var totals = Totals()
  @volatile private var firstSubmitMs = Long.MaxValue
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
  }
  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.graft.ListenerInterop.drain(spark.sparkContext, 5000)

  def reset(): Unit = { drain(); totals = Totals(); progress.clear() }
  def snapshot(): Totals = { drain(); totals }

  /** Marks the start of one query evaluation; `firstStageMs` then gives
    * the first stage submitted after it. */
  def markQuery(): Unit = firstSubmitMs = Long.MaxValue
  def firstStageMs: Long = { drain(); firstSubmitMs }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      if (t < firstSubmitMs) firstSubmitMs = t)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val t = totals
      totals = Totals(t.stages + 1, t.taskMs + m.executorRunTime,
        t.cpuNs + m.executorCpuTime, t.gcMs + m.jvmGCTime,
        t.shReadB + m.shuffleReadMetrics.totalBytesRead,
        t.shWriteB + m.shuffleWriteMetrics.bytesWritten,
        t.spillB + m.memoryBytesSpilled + m.diskBytesSpilled)
      for (s <- si.submissionTime; c <- si.completionTime)
        Trace.record("stage", Trace.mainCurrent, s * 1000000L, c * 1000000L)
    }
  }

  /** Spark stage totals over a window of `wallS` seconds on `cpus` cores. */
  def putStageTotals(r: Result, t: Totals, wallS: Double, cpus: Int, preStageS: Double): Unit = {
    val mib = 1024.0 * 1024.0
    r.put("spark.stages", t.stages.toDouble, "count")
    r.put("spark.task_s", t.taskMs / 1e3, "s")
    r.put("spark.cpu_s", t.cpuNs / 1e9, "s")
    r.put("spark.gc_s", t.gcMs / 1e3, "s")
    r.put("spark.shuffle_read_mib", t.shReadB / mib, "MiB")
    r.put("spark.shuffle_write_mib", t.shWriteB / mib, "MiB")
    r.put("spark.spill_mib", t.spillB / mib, "MiB")
    r.put("spark.pre_stage_s", preStageS, "s")
    r.put("spark.busy_ratio", if (wallS > 0) t.taskMs / 1e3 / (wallS * cpus) else 0.0, "ratio")
  }

  def events(): Seq[StreamingQueryListener.QueryProgressEvent] = {
    drain(); progress.asScala.toSeq
  }

  /** Micro-batch phase medians over `evs`; the addBatch median comes from
    * `addBatchEvs` (the sink's own query where the workload has one). */
  def putStreaming(r: Result, evs: Seq[StreamingQueryListener.QueryProgressEvent],
                   addBatchEvs: Seq[StreamingQueryListener.QueryProgressEvent]): Unit = {
    val ps = evs.map(_.progress)
    def p50(from: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], key: String): Double = {
      val xs = from.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r.put("streaming.latest_offset_ms_p50", p50(ps, "latestOffset"), "ms")
    r.put("streaming.add_batch_ms_p50", p50(addBatchEvs.map(_.progress), "addBatch"), "ms")
    r.put("streaming.wal_commit_ms_p50", p50(ps, "walCommit"), "ms")
    r.put("streaming.query_planning_ms_p50", p50(ps, "queryPlanning"), "ms")
    r.put("streaming.commit_offsets_ms_p50", p50(ps, "commitOffsets"), "ms")
    r.put("streaming.batches", ps.count(_.numInputRows > 0).toDouble, "count")
    r.put("streaming.rows_per_batch_max",
      if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).max.toDouble, "count")
  }

  /** Durations of micro-batches that read input, in ms. */
  def batchMillis(evs: Seq[StreamingQueryListener.QueryProgressEvent]): Seq[Double] =
    evs.map(_.progress)
    .filter(_.numInputRows > 0)
    .map(p => p.durationMs.get("triggerExecution").doubleValue)
}
