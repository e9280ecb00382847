package perfbench

import java.io.{ByteArrayInputStream, DataInputStream, File}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.api.Wireduck
import graft.pcap.{Dissect, Glossary, PcapFormat, PcapIndex, PcapWriter}
import graft.sources.pcap.{DisplayFilter, PcapInputPartition, PcapPartitionReader}

/** The scan's layers, timed one at a time from outside: single-thread,
  * in-memory loops over the head of a capture, calling each module's
  * public entry points the way the scan does. Runs only in the traced run,
  * after the measured passes, so the JIT is warm and nothing else runs.
  *
  * Allocation is the calling thread's `getThreadAllocatedBytes` delta. */
final class Ladder(capture: File, packets: Int, fixtures: File, seed: Long, tracer: Tracer) {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated: Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** name -> (value, unit) */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra detail for the record (not reported as metrics). */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Rungs that could not time what the scan does. */
  val failures = mutable.ArrayBuffer.empty[String]
  /** Splits `PcapIndex` planned for the capture at the scan's split size. */
  var splits = 0L

  /** Times `body` (which returns the number of packets it handled);
    * returns (packets, seconds, bytes allocated). */
  private def timed(layer: String, name: String)(body: => Long): (Long, Double, Long) =
    tracer.span(layer, name) {
      val a0 = allocated
      val t0 = System.nanoTime()
      val n = body
      val s = (System.nanoTime() - t0) / 1e9
      (n, s, allocated - a0)
    }

  private val bytes = java.nio.file.Files.readAllBytes(capture.toPath)
  private val records: Array[PcapFormat.Record] =
    PcapFormat.records(new ByteArrayInputStream(bytes), packets.toLong).toArray
  private val recordBytes = records.map(16L + _.inclLen).sum

  private def dissectAll(recs: Array[PcapFormat.Record], w: Dissect.Wanted, desegment: Boolean): Long = {
    val tracker = new Dissect.Tracker(desegment, reuseBuffers = true)
    var i = 0
    while (i < recs.length) { Dissect.dissect(recs(i), 1, tracker, w); i += 1 }
    recs.length
  }

  /** Framing: the record iterator over the in-memory head of the capture,
    * with the reader's buffer reuse. */
  def framing(): Double = {
    val (n, s, _) = timed("PcapFormat", "recordsAfterHeader") {
      var total = 0L
      for (_ <- 1 to 5) {
        val din = new DataInputStream(new ByteArrayInputStream(bytes, 0, (24 + recordBytes).toInt))
        val h = PcapFormat.readHeader(din)
        val it = PcapFormat.recordsAfterHeader(din, h, Long.MaxValue, 1L, reuseBuffers = true)
        while (it.hasNext) { it.next(); total += 1 }
      }
      total
    }
    metrics("PcapFormat.pkts_per_s") = (n / s, "pkt/s")
    metrics("PcapFormat.mb_per_s") = (5 * recordBytes / 1e6 / s, "MB/s")
    s / n
  }

  /** The dissection ladder: each rung turns on one more part of the work. */
  def dissect(): Unit = {
    val full = Dissect.Wanted(payloads = true, info = true, infoBytes = true)
    val rungs = Seq(
      ("frame_only", Dissect.Wanted(payloads = false, info = false, layers = false), false),
      ("layers", Dissect.Wanted(payloads = false, info = false), false),
      ("info", Dissect.Wanted(payloads = false, info = true, infoBytes = true), false),
      ("payload", full, false),
      ("desegment", full, true))
    rungs.foreach { case (rung, w, deseg) =>
      val (n, s, alloc) = timed("Dissect", rung)(dissectAll(records, w, deseg))
      metrics(s"Dissect.$rung.pkts_per_s") = (n / s, "pkt/s")
      detail(s"Dissect.$rung.alloc_b_per_pkt") = alloc.toDouble / n
      if (rung == "payload") metrics("Dissect.alloc_b_per_pkt") = (alloc.toDouble / n, "B/pkt")
    }
    // cost per source: replicas of one fixture only, layers rung
    val sources = Capture.readSources(fixtures)
    for ((src, key) <- Seq(sources(0) -> "fix", sources(1) -> "sweep")) {
      val reps = Capture.replicas(Seq(src -> math.max(1, 20000 / src.packets.size)), seed)
      var num = 0L
      val recs = Capture.merged(reps).map { p =>
        num += 1
        PcapFormat.Record(num, p.tsMicros, p.data.length, p.origLen, p.data)
      }.toArray
      val (n, s, _) = timed("Dissect", s"layers.$key")(
        dissectAll(recs, Dissect.Wanted(payloads = false, info = false), desegment = false))
      metrics(s"Dissect.layers.$key.us_per_pkt") = (s / n * 1e6, "us/pkt")
    }
  }

  /** Display filter evaluation alone, on packets dissected as the reader
    * would for the filter; the per-call timer cost is measured and
    * subtracted. */
  def displayFilter(expr: String): Unit = {
    val f = DisplayFilter.parse(expr)
    val tracker = new Dissect.Tracker(false, reuseBuffers = true)
    val w = Dissect.Wanted(payloads = false, info = false, raw = f.needsRaw)
    var evalNs, timerNs = 0L
    var kept = 0L
    tracer.span("DisplayFilter", "eval") {
      records.foreach { r =>
        val d = Dissect.dissect(r, 1, tracker, w)
        val t0 = System.nanoTime()
        val t1 = System.nanoTime()
        if (f.eval(d)) kept += 1
        val t2 = System.nanoTime()
        timerNs += t1 - t0
        evalNs += t2 - t1
      }
    }
    metrics("DisplayFilter.ns_per_pkt") = (math.max(0L, evalNs - timerNs).toDouble / records.length, "ns/pkt")
    metrics("DisplayFilter.selectivity") = (kept.toDouble / records.length, "ratio")
  }

  /** The `Wanted` a reader actually dissects with: its private pruning
    * decision, read back instead of re-derived, so a change to the
    * reader's pruning moves both sides of the row-build difference. */
  private def wantedOf(r: PcapPartitionReader): Option[Dissect.Wanted] =
    classOf[PcapPartitionReader].getDeclaredFields.filter(_.getType == classOf[Dissect.Wanted]) match {
      case Array(f) =>
        f.setAccessible(true)
        Some(f.get(r).asInstanceOf[Dissect.Wanted])
      case fs =>
        failures += s"PcapPartitionReader has ${fs.length} Dissect.Wanted fields, expected one"
        None
    }

  /** The scan's partition reader, constructed directly over the same head
    * of the capture file, producing every column of `protocols`. Row-build
    * time is the reader's time minus framing and dissection measured
    * alone with the reader's own `Wanted`. */
  def reader(protocols: Seq[String], framingSPerPkt: Double): Unit = {
    val schema = Glossary.schemaFor(protocols)
    val names = schema.fieldNames
    val part = PcapInputPartition(capture.getAbsolutePath, records.length.toLong)
    def open() = new PcapPartitionReader(part, schema, false, None, Array.empty)
    val (n, s, alloc) = timed("PcapPartitionReader", "next+get") {
      val r = open()
      var k = 0L
      try while (r.next()) { r.get(); k += 1 } finally r.close()
      k
    }
    val probe = open()
    val w = try wantedOf(probe).getOrElse(Dissect.WantAll) finally probe.close()
    detail("PcapPartitionReader.wanted") = w.toString
    val (dn, ds, _) = timed("Dissect", "reader_wanted")(dissectAll(records, w, desegment = false))
    metrics("PcapPartitionReader.pkts_per_s") = (n / s, "pkt/s")
    metrics("PcapPartitionReader.rowbuild_ns_per_pkt") = ((s / n - ds / dn - framingSPerPkt) * 1e9, "ns/pkt")
    metrics("PcapPartitionReader.alloc_b_per_pkt") = (alloc.toDouble / n, "B/pkt")
    detail("PcapPartitionReader.columns") = names.length
  }

  /** Split planning of the whole capture at `scan_full`'s split size,
    * the plan that workload's scan runs. */
  def splitPlanning(): Unit = {
    val conf = new Configuration()
    val runs = (1 to 3).map { _ =>
      val (n, s, _) = timed("PcapIndex", "splits")(
        PcapIndex.splits(capture.getAbsolutePath, Workload.SplitBytes, conf).size.toLong)
      (n, s)
    }
    splits = runs.head._1
    metrics("PcapIndex.plan_s") = (Stats.median(runs.map(_._2)), "s")
    metrics("PcapIndex.splits") = (splits.toDouble, "count")
  }

  /** The pcap writer on the head of the capture, cached first so only the
    * write is timed; one partition, one task. */
  def writer(spark: SparkSession, scratch: File): Unit = {
    val df = Wireduck.readPcap(spark, capture.getAbsolutePath, protocols = Seq("frame"),
      climit = Some(records.length.toLong)).coalesce(1).cache()
    val rows = df.count()
    val dir = new File(scratch, "ladder-writer")
    val (_, s, _) = timed("PcapWriter", "write") { PcapWriter.write(df, dir.getAbsolutePath); rows }
    val written = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".pcap")).map(_.length).sum
    df.unpersist()
    Files.deleteTree(dir)
    metrics("PcapWriter.mb_per_s") = (written / 1e6 / s, "MB/s")
    metrics("PcapWriter.pkts") = (rows.toDouble, "count")
  }
}
