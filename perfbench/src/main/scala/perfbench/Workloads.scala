package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Wireduck

/** What one workload reads: the capture (single file and/or ring
  * directory), its manifest, and a scratch directory for written output. */
final case class Inputs(dir: File, manifest: Capture.Manifest, scratch: File, fixtures: File) {
  def single: String = new File(dir, "capture.pcap").getAbsolutePath
  def ring: String = new File(dir, "ring").getAbsolutePath
}

/** One analyst query: `run` executes it (one action, or the documented
  * action sequence) and returns what the analyst sees; `check` compares
  * that with the inputs, given the executed plans' operators, and returns
  * the failures. `total` is the answer's headline count (rows, or
  * packets), kept for checks across queries and against the fixtures. */
final case class Query(
    name: String,
    run: (SparkSession, Inputs) => Any,
    check: (Any, Seq[PlanMetrics.Op], Inputs) => Seq[String],
    total: Any => Long = {
      case a: Array[_] => a.length.toLong
      case n: Long => n
      case _ => -1L
    })

object Query {
  /** What must be equal on every pass: a hash of the answer's rows in a
    * fixed order. */
  def signature(answer: Any): String = answer match {
    case a: Array[_] => a.map(_.toString).sorted.mkString(";").hashCode.toString
    case x => x.toString
  }
}

sealed trait Workload {
  def name: String
  /** Which capture forms the workload reads. */
  def single: Boolean
  def ring: Boolean
  def queries: Seq[Query]
  /** Full passes over the capture per pass of the query list (for
    * packets per second). */
  def scansPerPass: Int
  /** Checks across the queries of one pass. */
  def passCheck(runs: Map[String, QueryRun], in: Inputs): Seq[String] = Nil
  /** Untimed checks made once per run, after the passes. */
  def finalCheck(s: SparkSession, in: Inputs, firstPass: Seq[QueryRun]): Seq[String]
}

object Workload {
  /** The protocol set of the `scan_full` workload, all of whose columns
    * are materialized. */
  val Protocols = "eth,ip,tcp,udp,dns,http,tls,fix"
  /** The selective display filter of `scan_triage`'s extraction and
    * write queries. */
  val CFilter = "dns || http.request || tls.handshake.type == 1"

  /** Capture size, intra-file split size and ring-file size: the single
    * file scans as sixteen splits, the ring form as eight files. */
  val CaptureMiB = 64L
  val SplitBytes: Long = 4L << 20
  val RingBytes: Long = 8L << 20

  val all: Seq[Workload] = Seq(ScanFull, ScanTriage)
  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name (${all.map(_.name).mkString(", ")})"))

  def scanRowsOf(ops: Seq[PlanMetrics.Op]): Long =
    ops.filter(_.name.startsWith("BatchScan")).flatMap(_.metrics.get("numOutputRows")).sum

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** Per-TCP-stream conversations. `tcp.stream` numbers restart in every
    * file of a multi-file scan, so a conversation is keyed by its stream
    * number and its endpoints. */
  def conversations(s: SparkSession, path: String): DataFrame = {
    val tcp = Wireduck.readPcap(s, path, protocols = Seq("ip", "tcp"))
      .where(col("`tcp.stream`").isNotNull)
      .select(col("`tcp.stream`").as("stream"),
        least(col("`ip.src`"), col("`ip.dst`")).as("ip_a"),
        greatest(col("`ip.src`"), col("`ip.dst`")).as("ip_b"),
        col("`tcp.srcport`").as("srcport"), col("`tcp.dstport`").as("dstport"),
        col("`frame.len`").as("frame_len"),
        unix_micros(col("`frame.time_epoch`")).as("ts_us"))
    tcp.groupBy(col("stream"), col("ip_a"), col("ip_b"),
        least(col("srcport"), col("dstport")).as("port_a"),
        greatest(col("srcport"), col("dstport")).as("port_b"))
      .agg(count(lit(1)).as("n_packets"), sum(col("frame_len")).as("n_bytes"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }
}

/** One capture file, split at record boundaries, every column
  * of eight protocols, into the `noop` sink: dissection, row build and
  * split planning, with no shuffle. */
object ScanFull extends Workload {
  val name = "scan_full"
  val single = true
  val ring = false
  val scansPerPass = 1

  def scan(s: SparkSession, in: Inputs): DataFrame =
    s.read.format("pcap").option("split", Workload.SplitBytes.toString).option("protocols", Workload.Protocols)
      .load(in.single)

  val queries: Seq[Query] = Seq(
    Query("full_scan_noop",
      (s, in) => { scan(s, in).write.format("noop").mode("overwrite").save(); () },
      (_, ops, in) => Workload.expect("rows scanned", Workload.scanRowsOf(ops), in.manifest.packets)))

  def finalCheck(s: SparkSession, in: Inputs, firstPass: Seq[QueryRun]): Seq[String] = {
    val r = scan(s, in).agg(count(lit(1)), sum(col("`frame.len`"))).head()
    Workload.expect("split scan (packets, sum(frame.len))", (r.getLong(0), r.getLong(1)),
      (in.manifest.packets, in.manifest.frameLenSum))
  }
}

/** The same packets as ring-buffer files, one partition per file,
  * and six analyst queries in order: framing, display filters, the
  * conversation tracker, shuffles and the write path share the time. */
object ScanTriage extends Workload {
  val name = "scan_triage"
  val single = false
  val ring = true
  // queries 1-5 and the write each scan the whole capture once
  val scansPerPass = 6

  private def rows(x: Any): Seq[Row] = x.asInstanceOf[Array[Row]].toSeq

  val queries: Seq[Query] = Seq(
    // 1. frame-only: pruning skips layer dissection entirely
    Query("frame_len_per_minute",
      (s, in) => Wireduck.readPcap(s, in.ring)
        .groupBy(date_trunc("minute", col("`frame.time_epoch`")).as("minute"))
        .agg(count(lit(1)).as("n"), sum(col("`frame.len`")).as("bytes"))
        .collect(),
      (out, _, in) => {
        val rs = rows(out)
        Workload.expect("packets", rs.map(_.getLong(1)).sum, in.manifest.packets) ++
          Workload.expect("sum(frame.len)", rs.map(_.getLong(2)).sum, in.manifest.frameLenSum)
      }),
    // 2. the README flagship aggregate
    Query("flagship_ports",
      (s, in) => Wireduck.readPcap(s, in.ring, protocols = Seq("ip", "tcp"))
        .groupBy(col("`tcp.srcport`").as("srcport"), col("`tcp.dstport`").as("dstport"))
        .agg(count(lit(1)).as("n_packets"), sum(col("`tcp.len`")).as("sum_tcp_len"))
        .collect(),
      (out, _, in) => {
        val rs = rows(out)
        val r = in.manifest.replicasOf("fix").toLong
        def tot(p: Row => Boolean) = {
          val m = rs.filter(p)
          (m.map(_.getLong(2)).sum, m.map(_.getLong(3)).sum)
        }
        val port = Capture.FixServerPort
        Workload.expect("flagship from server",
          tot(x => !x.isNullAt(0) && x.getLong(0) == port),
          (Capture.FixFromServer._1 * r, Capture.FixFromServer._2 * r)) ++
          Workload.expect("flagship to server",
            tot(x => !x.isNullAt(1) && x.getLong(1) == port),
            (Capture.FixToServer._1 * r, Capture.FixToServer._2 * r))
      },
      total = x => rows(x).filterNot(_.isNullAt(0)).map(_.getLong(2)).sum),
    // 3. per-tcp.stream conversations (the tracker's stream index + a shuffle)
    Query("conversations",
      (s, in) => Workload.conversations(s, in.ring)
        .agg(count(lit(1)), sum(col("n_packets")), sum(col("n_bytes")),
          bit_xor(xxhash64(col("stream"), col("ip_a"), col("ip_b"), col("port_a"), col("port_b"),
            col("n_packets"), col("n_bytes"), col("duration_us"))))
        .collect(),
      (_, _, _) => Nil, // compared with the flagship and the fixtures
      total = x => rows(x).head.getLong(1)),
    // 4. a selective display-filter extraction, rows to the analyst
    Query("cfilter_extract",
      (s, in) => Wireduck.readPcap(s, in.ring, protocols = Seq("ip", "udp", "tcp", "dns", "http", "tls"),
          cfilter = Some(Workload.CFilter))
        .select(col("`frame.number`"), col("`frame.time_epoch`"), col("`ip.src`"), col("`ip.dst`"),
          col("`frame.protocols`"), col("`_ws.col.info`"))
        .collect(),
      (_, _, _) => Nil), // compared with the fixtures after the passes
    // 5. the protocol mix: frames carrying each protocol
    Query("protocol_mix",
      (s, in) => Wireduck.readPcap(s, in.ring)
        .select(explode(array_distinct(split(col("`frame.protocols`"), ":"))).as("protocol"))
        .groupBy(col("protocol")).agg(count(lit(1)).as("n_frames"))
        .collect(),
      (out, _, in) =>
        Workload.expect("frames with eth", rows(out).find(_.getString(0) == "eth").map(_.getLong(1)),
          Some(in.manifest.packets))),
    // 6. write the filtered packets back to pcap and scan the result again
    Query("write_rescan",
      (s, in) => {
        val dir = new File(in.scratch, s"write-${System.nanoTime()}")
        Wireduck.writePcap(
          Wireduck.readPcap(s, in.ring, protocols = Seq("frame"), cfilter = Some(Workload.CFilter)),
          dir.getAbsolutePath)
        val n = Wireduck.readPcap(s, dir.getAbsolutePath).count()
        Files.deleteTree(dir)
        n
      },
      (_, _, _) => Nil))

  override def passCheck(runs: Map[String, QueryRun], in: Inputs): Seq[String] =
    Workload.expect("re-scanned written packets vs cfilter rows", runs("write_rescan").total,
      runs("cfilter_extract").total) ++
      Workload.expect("tcp packets: conversations vs flagship", runs("conversations").total,
        runs("flagship_ports").total)

  /** Every replica dissects like the fixture it replays: the extraction
    * and the conversations hold, per replica, what they hold on the
    * fixture. */
  def finalCheck(s: SparkSession, in: Inputs, firstPass: Seq[QueryRun]): Seq[String] = {
    def perReplica(df: String => DataFrame): Long = Capture.SourceNames.map { n =>
      df(new File(in.fixtures, s"$n.pcap").getAbsolutePath).count() * in.manifest.replicasOf(n)
    }.sum
    def total(q: String) = firstPass.find(_.query == q).map(_.total)
    Workload.expect("cfilter rows vs fixtures x replicas", total("cfilter_extract"),
      Some(perReplica(f => Wireduck.readPcap(s, f, cfilter = Some(Workload.CFilter))))) ++
      Workload.expect("tcp packets vs fixtures x replicas", total("conversations"),
        Some(perReplica(f => Wireduck.readPcap(s, f, protocols = Seq("tcp"))
          .where(col("`tcp.stream`").isNotNull))))
  }
}
