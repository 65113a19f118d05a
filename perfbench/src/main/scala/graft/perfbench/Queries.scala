package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The `neardup` workload: near-dup entries from `SparkEntry.queries`,
  * each timed on its full result (a `noop` write of every row and column,
  * final sort included), never on a count. */
object Queries {

  /** The near-dup chain: MinHash signing, banding, candidates and verify
    * (d02) and the streaming flags (s06), over the band-signature tables
    * they publish and then serve. */
  val NearDup: Seq[String] = Seq("d02_minhash_lsh_neardup", "s06_stream_neardup_flags")

  def short(name: String): String = name.takeWhile(_ != '_')

  final class Runner(spark: SparkSession, data: String, rec: Recorder, res: Result) {
    /** per entry and pass: full-result seconds of every timed evaluation */
    val times = mutable.LinkedHashMap[(String, String), mutable.ArrayBuffer[Double]]()
    var preStageS = 0.0

    def cleanStorage(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    /** One full-result evaluation of `name`; returns seconds, or None
      * when it threw (counted as a failed operation). */
    def evaluate(name: String, pass: String, timed: Boolean): Option[Double] = {
      val fn = graft.SparkEntry.queries(name)
      if (timed) { res.attempted.incrementAndGet(); rec.markQuery() }
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val out = try {
        Trace.span(s"query.${short(name)}") {
          fn(spark, data).write.format("noop").mode("overwrite").save()
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (timed) res.fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          else throw e
          None
      }
      Log(f"$pass%-6s $name ${out.getOrElse(-1.0)}%.3fs")
      if (timed) {
        val first = rec.firstStageMs
        if (first != Long.MaxValue) preStageS += math.max(0L, first - startMs) / 1e3
        out.foreach(s => times.getOrElseUpdate((name, pass), mutable.ArrayBuffer()) += s)
      }
      cleanStorage()
      out
    }

    /** Evaluates every entry once in a seed-shuffled order. */
    def pass(entries: Seq[String], pass: String, seed: Long, timed: Boolean): Double = {
      val order = new scala.util.Random(seed).shuffle(entries)
      Trace.span(s"pass.$pass") {
        order.map(e => evaluate(e, pass, timed).getOrElse(0.0)).sum
      }
    }

    /** Writes each entry's full result as parquet for the oracle compare
      * (outside every timed window). */
    def dumpForOracle(entries: Seq[String], outDir: java.io.File): Unit =
      entries.foreach { name =>
        Log(s"check $name -> ${outDir.getName}")
        try graft.SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(new java.io.File(outDir, name).getPath)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] oracle dump of $name failed: ${e.getMessage}")
        }
        cleanStorage()
      }

    def samplesMs: Seq[Double] = times.values.flatten.map(_ * 1e3).toSeq
  }

  def writeOracleSql(entries: Seq[String], outDir: java.io.File): Unit = {
    val sql = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(new java.io.File(outDir, "oracle_sql.json").toPath,
      Json.obj(entries.map(e => e -> Json.str(sql(e)))))
  }
}
