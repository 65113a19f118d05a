package graft.perfbench

import graft.emu.KinesisEmu
import graft.ingest.{KinesisRecord, RecordBatcher, RecordChunker}
import graft.sink.KinesisWriter
import graft.sources.{AdmissionCaps, KinesisEmuInputPartition, KinesisEmuMicroBatchStream,
  KinesisEmuPartitionReader, ShardOffsets}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import scala.collection.mutable

/** Direct calls into each layer's public entry points, timed from
  * outside. They run in the traced run, after the workload, and their
  * samples become the per-layer metrics. */
object LayerProbes {
  private def timeNs(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }

  /** Every layer metric measured by direct calls. `docs` are the corpus
    * documents for the MinHash kernel; `lines` feed the Flusher. */
  def run(res: Result, seed: Long, lines: Array[Array[Byte]], docs: Seq[String],
          depths: Seq[(String, Int)], cap: Int): Unit = Trace.span("phase.layers") {
    val payloads = new Payloads(seed, 200)
    // pipe layers: 4 MiB-buffered pipe rounds whose flush units go
    // through chunk -> batch -> PutRecords, each call timed on its own
    val cfg = KinesisWriter.Config("probe-pipe", partitionKey = "pipe")
    val putUs = mutable.ArrayBuffer[Double]()
    var chunkNs = 0L
    var chunkBytes = 0L
    (0 until 4).foreach { _ =>
      KinesisEmu.createStream(cfg.streamName, shards = 1)
      val f = new KinesisWriter.Flusher(cfg, { unit =>
        val t0 = System.nanoTime()
        val recs = Trace.span("ingest.chunk") {
          RecordChunker.toRecords(cfg.partitionKey, unit, cfg.recordSizeLimit)
        }
        chunkNs += System.nanoTime() - t0
        chunkBytes += unit.length
        val batches = Trace.span("ingest.batch") { RecordBatcher.batch(recs, cfg.putRecordsLimit) }
        batches.foreach { b =>
          val p0 = System.nanoTime()
          val resp = Trace.span("emu.put") { KinesisEmu.putRecords(cfg.streamName, b) }
          putUs += (System.nanoTime() - p0) / 1e3
          require(resp.failedCount == 0, s"${resp.failedCount} records failed")
        }
      })
      Trace.span("pipe.round") { lines.foreach(f.write); f.flush() }
      KinesisEmu.deleteStream(cfg.streamName)
    }
    res.put("ingest.chunk_ns_per_kib", chunkNs.toDouble / math.max(1L, chunkBytes / 1024), "ns/KiB")
    res.put("emu.put_us_p50", Stats.pct(putUs.toSeq, 50), "us")
    res.put("emu.put_us_p90", Stats.pct(putUs.toSeq, 90), "us")

    val bytes = lines.map(_.length.toLong).sum
    val flushNs = Trace.span("sink.flusher") {
      val f = new KinesisWriter.Flusher(KinesisWriter.Config("none", "pipe"), _ => ())
      timeNs { lines.foreach(f.write); f.flush() }
    }
    res.put("sink.flusher_mib_s", bytes / 1048576.0 / (flushNs / 1e9), "MiB/s")

    // sink-commit shaped records: ~200 B, per-row keys
    val small = (0 until 100000).map(i =>
      KinesisRecord(payloads.key(i), payloads.value(i, 0L).getBytes("UTF-8")))
    val batchNs = Trace.span("ingest.batch") { timeNs { RecordBatcher.batch(small) } }
    res.put("ingest.batch_ns_per_record", batchNs.toDouble / small.size, "ns/record")

    // one idempotent commit per (epoch, partition), 10k records each
    KinesisEmu.createStream("probe-commit", shards = 4)
    val commits = (0 until 10).map { e =>
      val slice = small.slice(e * 10000, (e + 1) * 10000)
      Trace.span("emu.commit") {
        timeNs { KinesisEmu.putRecordsIdempotent("probe-commit", e.toLong, 0, slice) }
      } / 1e6
    }
    KinesisEmu.deleteStream("probe-commit")
    res.put("emu.commit_ms_p50", Stats.median(commits), "ms")

    sourceProbes(res, payloads, depths, cap)

    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = docs.map(_.split(" ", -1).distinct).toArray
    graft.ops.Dedup.docBandKeys(md, toks.head) // class load, outside the timing
    val mhNs = Trace.span("ops.minhash") { timeNs { toks.foreach(t => graft.ops.Dedup.docBandKeys(md, t)) } }
    res.put("ops.minhash_ns_per_doc", mhNs.toDouble / toks.length, "ns/doc")
  }

  /** latestOffset(start, limit) and one capped micro-batch read, at the
    * head and at the tail of a 4-shard log, for each log depth. */
  private def sourceProbes(res: Result, payloads: Payloads, depths: Seq[(String, Int)],
                           cap: Int): Unit = {
    val name = "probe-source"
    val st = KinesisEmu.createStream(name, shards = 4)
    var filled = 0
    val reads = mutable.Map[String, Double]()
    depths.foreach { case (tag, depth) =>
      Trace.span(s"sources.fill.$tag") {
        (filled until depth).grouped(500).foreach { ids =>
          KinesisEmu.putRecords(name, ids.map(i =>
            KinesisRecord(payloads.key(i), payloads.value(i, 0L).getBytes("UTF-8"))))
        }
      }
      filled = depth
      val mbs = new KinesisEmuMicroBatchStream(name, None, AdmissionCaps(Some(cap.toLong), None))
      val head = st.shards.map(s => s.shardId -> 0L).toMap
      val tail = st.shards.map(s => s.shardId -> math.max(0L, s.latestSequence + 1 - cap / 4)).toMap
      val lo = mutable.ArrayBuffer[Double]()
      val rd = mutable.ArrayBuffer[Double]()
      (0 until 5).foreach { _ =>
        Seq(head, tail).foreach { from =>
          var end: Map[String, Long] = null
          lo += Trace.span("sources.latest_offset") {
            timeNs { end = mbs.latestOffset(ShardOffsets(from), ReadLimit.maxRows(cap.toLong))
              .asInstanceOf[ShardOffsets].next }
          } / 1e6
          rd += Trace.span("sources.read_batch") {
            timeNs {
              st.shards.foreach { sh =>
                val r = new KinesisEmuPartitionReader(KinesisEmuInputPartition(name,
                  sh.shardId, from(sh.shardId), end(sh.shardId)))
                while (r.next()) r.get()
                r.close()
              }
            }
          } / 1e6
        }
      }
      res.put(s"sources.latest_offset_ms.$tag", Stats.median(lo.toSeq), "ms")
      res.put(s"sources.read_ms_per_batch.$tag", Stats.median(rd.toSeq), "ms")
      reads(tag) = Stats.median(rd.toSeq)
    }
    KinesisEmu.deleteStream(name)
    val tags = depths.map(_._1)
    res.put("sources.read_growth", reads(tags.last) / reads(tags.head), "ratio")
  }
}
