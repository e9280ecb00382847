package perfbench

import java.io.{BufferedOutputStream, DataInputStream, File, FileInputStream, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded synthetic capture recipe.
  *
  * Replays the committed fixtures `fix.pcap`, `sweep_extra.pcap` and
  * `mixed.pcap` many times over. Every replica gets its own start time
  * inside a one-hour window (so replicas overlap and many conversations are
  * live at once), its own IPv4 unicast addresses (the middle 16 bits are
  * shifted), and, for TCP client ports in the dynamic range, its own port.
  * IPv4/TCP/UDP checksums are updated incrementally (RFC 1624), so a
  * checksum that was valid in the fixture stays valid and a bad one stays
  * bad. Server ports are never touched, so port-dispatched dissectors see
  * what they saw in the fixture.
  *
  * The replica counts depend only on the target size, never on the seed:
  * every seed yields the same packet count and byte totals, and the seed
  * moves only times, addresses, ports and interleaving.
  *
  * The writer here is self-contained on purpose: the program's own
  * `PcapWriter` is one of the measured layers, and a change to it must not
  * change the benchmark's inputs.
  */
object Capture {

  final case class Packet(tsMicros: Long, origLen: Int, data: Array[Byte])
  final case class Source(name: String, packets: IndexedSeq[Packet]) {
    val bytes: Long = packets.map(16L + _.data.length).sum
    val firstTs: Long = packets.head.tsMicros
  }

  /** One generated file: name, size, packet count, sha256. */
  final case class FileInfo(name: String, bytes: Long, packets: Long, sha256: String)

  final case class Manifest(
      seed: Long,
      targetBytes: Long,
      packets: Long,
      frameLenSum: Long,
      tcpPackets: Long,
      tcpStreams: Long,
      replicas: Seq[(String, Int)],
      spanSeconds: Double,
      single: Option[FileInfo],
      ring: Seq[FileInfo]) {
    def replicasOf(name: String): Int = replicas.collectFirst { case (`name`, n) => n }.getOrElse(0)
    def json: String = Json.obj(
      "seed" -> seed, "target_bytes" -> targetBytes, "packets" -> packets,
      "frame_len_sum" -> frameLenSum, "tcp_packets" -> tcpPackets,
      "tcp_streams" -> tcpStreams, "span_s" -> spanSeconds,
      "replicas" -> Json.obj(replicas.map { case (k, v) => k -> (v: Any) }: _*),
      "expected" -> Json.obj(
        "packets" -> packets, "frame_len_sum" -> frameLenSum,
        "flagship_from_server" -> Seq(FixFromServer._1 * replicasOf("fix"), FixFromServer._2 * replicasOf("fix")),
        "flagship_to_server" -> Seq(FixToServer._1 * replicasOf("fix"), FixToServer._2 * replicasOf("fix"))),
      "files" -> (single.toSeq ++ ring).map(f => Json.obj(
        "name" -> f.name, "bytes" -> f.bytes, "packets" -> f.packets, "sha256" -> f.sha256))).s
  }

  /** The README's flagship result on `fix.pcap`: (packets, sum(tcp.len))
    * per direction of its single FIX session on server port 11001. */
  val FixServerPort = 11001
  val FixFromServer: (Long, Long) = (429L, 259678L)
  val FixToServer: (Long, Long) = (56L, 19702L)

  val SourceNames: Seq[String] = Seq("fix", "sweep_extra", "mixed")
  private val WindowMicros = 3600L * 1000000L
  private val BaseMicros = 1700000000L * 1000000L
  private val DynamicPorts = 49152
  // shifted client ports land in [52000, 60000): no port the dissector
  // dispatches on lies in that range
  private val PortBase = 52000
  private val PortSpan = 8000

  def readSource(name: String, file: File): Source = {
    val in = new DataInputStream(new java.io.BufferedInputStream(new FileInputStream(file)))
    try {
      val h = new Array[Byte](24)
      in.readFully(h)
      val hb = ByteBuffer.wrap(h).order(ByteOrder.LITTLE_ENDIAN)
      require(hb.getInt(0) == 0xa1b2c3d4, s"$file: expected little-endian microsecond pcap")
      require(hb.getInt(20) == 1, s"$file: expected Ethernet linktype")
      val out = IndexedSeq.newBuilder[Packet]
      val rh = new Array[Byte](16)
      val rb = ByteBuffer.wrap(rh).order(ByteOrder.LITTLE_ENDIAN)
      while (in.read(rh, 0, 1) == 1) {
        in.readFully(rh, 1, 15)
        val data = new Array[Byte](rb.getInt(8))
        in.readFully(data)
        out += Packet(rb.getInt(0).toLong * 1000000L + rb.getInt(4), rb.getInt(12), data)
      }
      Source(name, out.result())
    } finally in.close()
  }

  def readSources(fixtures: File): Seq[Source] =
    SourceNames.map(n => readSource(n, new File(fixtures, s"$n.pcap")))

  /** Replica counts for a target file size: about half the packets from
    * each of `fix` and `sweep_extra`, plus one `mixed` replica per eight
    * `fix` replicas. */
  def replicaCounts(sources: Seq[Source], targetBytes: Long): Seq[(Source, Int)] = {
    val Seq(fix, sweep, mixed) = sources
    val sweepPerFix = fix.packets.size.toDouble / sweep.packets.size
    val bytesPerFix = fix.bytes + sweepPerFix * sweep.bytes + mixed.bytes / 8.0
    val nFix = math.max(1, math.round(targetBytes / bytesPerFix).toInt)
    Seq(fix -> nFix, sweep -> math.max(1, math.round(nFix * sweepPerFix).toInt),
      mixed -> math.max(1, nFix / 8))
  }

  /** Per-replica rewrite parameters. */
  final class Replica(val source: Source, val tsShift: Long, val addrDelta: Int, val portOff: Int) {
    private var i = 0
    def hasNext: Boolean = i < source.packets.size
    def headTs: Long = source.packets(i).tsMicros + tsShift
    def next(): Packet = {
      val p = source.packets(i); i += 1
      Packet(p.tsMicros + tsShift, p.origLen, rewrite(p.data))
    }

    private def u16(d: Array[Byte], o: Int) = ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
    private def put16(d: Array[Byte], o: Int, v: Int): Unit = {
      d(o) = (v >>> 8).toByte; d(o + 1) = v.toByte
    }
    /** RFC 1624 eqn. 3: HC' = ~(~HC + ~m + m'). */
    private def adjust(cs: Int, oldW: Int, newW: Int): Int = {
      var s = (~cs & 0xffff) + (~oldW & 0xffff) + newW
      s = (s & 0xffff) + (s >>> 16)
      s = (s & 0xffff) + (s >>> 16)
      ~s & 0xffff
    }
    private def mapAddr(a: Int): Int = {
      val first = a >>> 24
      if (first == 0 || first >= 224) a // keep broadcast, multicast, 0.0.0.0
      else (a & 0xff0000ff) | ((((a >>> 8) + addrDelta) & 0xffff) << 8)
    }
    private def mapPort(p: Int, other: Int): Int =
      if (p >= DynamicPorts && other < DynamicPorts)
        PortBase + Math.floorMod(p - DynamicPorts + portOff, PortSpan)
      else p

    private def rewrite(src: Array[Byte]): Array[Byte] = {
      val d = src.clone()
      var o = 14
      if (d.length < o) return d
      var et = u16(d, 12)
      if (et == 0x8100 && d.length >= 18) { et = u16(d, 16); o = 18 }
      if (et != 0x0800 || d.length < o + 20 || (d(o) >> 4 & 0xf) != 4) return d
      val ihl = (d(o) & 0xf) * 4
      val proto = d(o + 9) & 0xff
      val firstFrag = (u16(d, o + 6) & 0x1fff) == 0
      // checksum-covered 16-bit words that change: (offset, old, new)
      val words = mutable.ArrayBuffer.empty[(Int, Int, Int)]
      for (a <- Seq(o + 12, o + 16)) {
        val old = ByteBuffer.wrap(d, a, 4).getInt
        val nw = mapAddr(old)
        words += ((a, old >>> 16, nw >>> 16)) += ((a + 2, old & 0xffff, nw & 0xffff))
      }
      var ipCs = u16(d, o + 10)
      words.foreach { case (_, a, b) => ipCs = adjust(ipCs, a, b) }
      val t = o + ihl
      if (firstFrag && (proto == 6 || proto == 17) && d.length >= t + 4) {
        val sp = u16(d, t)
        val dp = u16(d, t + 2)
        val ports =
          if (proto == 6) Seq((t, sp, mapPort(sp, dp)), (t + 2, dp, mapPort(dp, sp)))
          else Nil
        val csAt = if (proto == 6) t + 16 else t + 6
        if (d.length >= csAt + 2) {
          val cs0 = u16(d, csAt)
          if (!(proto == 17 && cs0 == 0)) { // UDP checksum 0 = none
            var cs = cs0
            (words ++ ports).foreach { case (_, a, b) => cs = adjust(cs, a, b) }
            if (proto == 17 && cs == 0) cs = 0xffff
            put16(d, csAt, cs)
          }
        }
        ports.foreach { case (at, _, nw) => put16(d, at, nw) }
      }
      words.foreach { case (at, _, nw) => put16(d, at, nw) }
      put16(d, o + 10, ipCs)
      d
    }
  }

  /** Seeded replicas of `counts`, in a fixed order. */
  def replicas(counts: Seq[(Source, Int)], seed: Long): IndexedSeq[Replica] = {
    val rng = new SplittableRandom(seed)
    val addrOff = rng.nextInt(65536)
    var g = 0
    counts.flatMap { case (src, n) =>
      (0 until n).map { _ =>
        val start = BaseMicros + (rng.nextLong() >>> 1) % WindowMicros
        // distinct per replica for up to 65535 replicas (7919 is prime to 65535)
        val delta = 1 + Math.floorMod(g * 7919 + addrOff, 65535)
        g += 1
        new Replica(src, start - src.firstTs, delta, rng.nextInt(PortSpan))
      }
    }.toIndexedSeq
  }

  /** Time-ordered merge of all replicas (ties by replica order). */
  def merged(reps: IndexedSeq[Replica]): Iterator[Packet] = new Iterator[Packet] {
    private val pq = new java.util.PriorityQueue[Integer](math.max(1, reps.size),
      (a: Integer, b: Integer) => {
        val c = java.lang.Long.compare(reps(a).headTs, reps(b).headTs)
        if (c != 0) c else Integer.compare(a, b)
      })
    reps.indices.foreach(i => if (reps(i).hasNext) pq.add(i))
    def hasNext: Boolean = !pq.isEmpty
    def next(): Packet = {
      val i = pq.poll()
      val p = reps(i).next()
      if (reps(i).hasNext) pq.add(i)
      p
    }
  }

  /** Classic little-endian microsecond pcap sink that hashes what it
    * writes. */
  private final class PcapSink(val file: File) {
    private val sha = MessageDigest.getInstance("SHA-256")
    private val fos = new FileOutputStream(file)
    private val out: OutputStream = new BufferedOutputStream(fos, 1 << 20)
    private val rh = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    var bytes = 0L
    var packets = 0L
    private def emit(b: Array[Byte], n: Int): Unit = {
      out.write(b, 0, n); sha.update(b, 0, n); bytes += n
    }
    locally {
      val h = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(0xa1b2c3d4).putShort(2.toShort).putShort(4.toShort).putInt(0).putInt(0)
        .putInt(262144).putInt(1)
      emit(h.array(), 24)
    }
    def write(p: Packet): Unit = {
      rh.clear()
      rh.putInt((p.tsMicros / 1000000L).toInt).putInt((p.tsMicros % 1000000L).toInt)
        .putInt(p.data.length).putInt(p.origLen)
      emit(rh.array(), 16)
      emit(p.data, p.data.length)
      packets += 1
    }
    def close(): FileInfo = {
      out.flush()
      fos.getFD.sync() // on disk before any timing starts: no writeback during the passes
      out.close()
      FileInfo(file.getName, bytes, packets, sha.digest().map(b => f"${b & 0xff}%02x").mkString)
    }
  }

  /** Write the capture under `outDir`: `capture.pcap` (single file) and/or
    * `ring/ring_NNNNN.pcap` files rotated after `Workload.RingBytes`, the way
    * `dumpcap -b filesize` rotates, plus `manifest.json`. */
  def generate(fixtures: File, seed: Long, targetBytes: Long, outDir: File,
      single: Boolean, ring: Boolean): Manifest = {
    outDir.mkdirs()
    val counts = replicaCounts(readSources(fixtures), targetBytes)
    val one = if (single) Some(new PcapSink(new File(outDir, "capture.pcap"))) else None
    val ringDir = new File(outDir, "ring")
    if (ring) ringDir.mkdirs()
    val ringDone = Seq.newBuilder[FileInfo]
    var ringSink: PcapSink = null
    var packets, frameLen, tcpPackets = 0L
    var first, last = 0L
    val streams = new java.util.HashSet[(Long, Long)]()
    merged(replicas(counts, seed)).foreach { p =>
      if (packets == 0) first = p.tsMicros
      last = p.tsMicros
      packets += 1
      frameLen += p.origLen
      tcpKey(p.data).foreach { k => tcpPackets += 1; streams.add(k) }
      one.foreach(_.write(p))
      if (ring) {
        if (ringSink != null && ringSink.bytes >= Workload.RingBytes) { ringDone += ringSink.close(); ringSink = null }
        if (ringSink == null)
          ringSink = new PcapSink(new File(ringDir, f"ring_${ringDone.knownSize + 1}%05d.pcap"))
        ringSink.write(p)
      }
    }
    if (ringSink != null) ringDone += ringSink.close()
    val m = Manifest(seed, targetBytes, packets, frameLen, tcpPackets, streams.size.toLong,
      counts.map { case (s, n) => s.name -> n }, (last - first) / 1e6,
      one.map(_.close()), ringDone.result())
    java.nio.file.Files.writeString(new File(outDir, "manifest.json").toPath, m.json + "\n")
    m
  }

  /** Canonical (address pair, port pair) of an IPv4 TCP packet — the
    * manifest's conversation count. */
  private def tcpKey(d: Array[Byte]): Option[(Long, Long)] = {
    def u16(o: Int) = ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
    if (d.length < 34 || u16(12) != 0x0800 || (d(14) & 0xf0) != 0x40 || (d(23) & 0xff) != 6) None
    else {
      val t = 14 + (d(14) & 0xf) * 4
      if ((u16(20) & 0x1fff) != 0 || d.length < t + 4) None
      else {
        val a = (u16(26).toLong << 16 | u16(28), u16(t))
        val b = (u16(30).toLong << 16 | u16(32), u16(t + 2))
        val (x, y) = if (Ordering[(Long, Int)].lteq(a, b)) (a, b) else (b, a)
        Some((x._1 << 16 | x._2, y._1 << 16 | y._2))
      }
    }
  }
}
