package graft

import java.io.{BufferedInputStream, DataInputStream, FileInputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.security.MessageDigest

import scala.collection.mutable
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.pcap.{Dissect, PcapFormat}

/** Full-column dissection digests: every glossary slot, `frame.protocols`
  * and the info column of every packet, for every committed `.pcap`
  * fixture plus a seeded synthetic sweep, with `desegment` off and on.
  *
  * Two guards in one pass:
  *   - a pooled tracker (`reuseBuffers = true`, one field vector reset
  *     between packets) must render every packet exactly as fresh vectors
  *     do — a slot that survives the reset into the next packet shows here;
  *   - both must equal the digests in `dissect_digests.tsv`, so a change
  *     to the dissector that moves any field of any packet (handler order,
  *     conversation keys, checksum verification) fails until the table is
  *     re-recorded on purpose.
  *
  * The synthetic sweep replays the fixtures' own TCP and UDP payloads on
  * every port the native dissector claims, against an ephemeral or another
  * claimed port, over IPv4 and IPv6 — the fixtures alone reach only a few
  * of the port handlers and almost none of the ports that share one.
  */
class DissectDigestSpec extends AnyFunSuite {

  private val tcpPorts = Seq(853, 445, 139, 3389, 3868, 554, 135, 1080, 21, 22, 5060,
    88, 2049, 389, 502, 102, 20000, 2404, 44818, 4840, 6667, 5222, 2775, 1723, 49,
    23, 25, 587, 110, 143, 179, 1883, 1433, 5672, 5432, 3306, 6379, 9092, 9042,
    11211, 27017, 873, 4730, 8009, 8333, 9000, 4369, 3260, 854, 1721, 5084, 6653,
    5900, 61613, 564, 13400, 4222, 104, 11112, 8583, 5555, 21001, 10051, 79, 70,
    113, 9418, 11210, 1521, 5050, 3632, 6000, 2855, 61616, 2600, 10000, 8020, 639,
    119, 548, 1790, 10809, 9090, 6881, 43, 13, 515, 512, 513, 514, 1998, 4189, 3288,
    705, 2002, 1935, 2809, 6346, 4662, 1344, 524, 24800, 3205, 4420, 2065, 1720,
    5190, 446, 5000, 647, 24007, 9300, 2000, 6789, 3240, 5701, 21064, 7272, 650, 53,
    80, 443)

  private val udpPorts = Seq(53, 5353, 5355, 137, 3478, 319, 320, 546, 547, 51820,
    2152, 500, 4500, 1701, 5683, 2269, 5070, 1719, 2945, 34964, 19788, 23000, 123,
    443, 2055, 9995, 4739, 6343, 3784, 520, 1985, 67, 68, 5060, 88, 161, 162, 2049,
    1812, 1813, 1645, 1646, 1900, 514, 9, 3956, 47808, 2427, 2727, 30490, 30509,
    2123, 8805, 13400, 138, 6881, 1194, 5351, 69, 4789, 37008, 6081, 7400, 7650,
    7899, 30001, 9300, 3130, 3544, 521, 2048, 427, 2944, 2442, 9600, 3671, 5678,
    4790, 6635, 698, 646, 5094, 623, 17754, 25826, 4729, 37, 19, 7, 496, 1234, 111,
    4569, 177, 6454, 3000, 7000, 19132, 3222, 464, 631, 9000, 635, 834, 654, 854,
    5007, 20202, 9200, 8600, 8004, 6004, 4342, 4045, 30002, 9201, 9202, 5246, 4341,
    6696)

  private def fixtureFiles: Seq[java.io.File] = {
    val dir = new java.io.File(getClass.getResource("/fix.pcap").toURI).getParentFile
    dir.listFiles().filter(_.getName.endsWith(".pcap")).sortBy(_.getName).toSeq
  }

  private def readCapture(f: java.io.File): (Int, Seq[PcapFormat.Record]) = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f)))
    try {
      val h = PcapFormat.readHeader(in)
      (h.linktype, PcapFormat.recordsAfterHeader(in, h, Long.MaxValue, 1L).toVector)
    } finally in.close()
  }

  /** Every written slot as `id=kind:value`, then protocols and info. */
  private def render(d: Dissect.Dissected): String = {
    val v = d.vec
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < v.kinds.length) {
      val k = v.kinds(i)
      if (k != 0) {
        sb.append(i).append('=').append(k.toInt).append(':')
        if (k == 1) sb.append(String.valueOf(v.objs(i))) else sb.append(v.longs(i))
        sb.append('\u0001')
      }
      i += 1
    }
    sb.append("|").append(d.protocols).append("|").append(d.info).toString
  }

  private def renderAll(recs: Seq[PcapFormat.Record], linktype: Int,
      desegment: Boolean, pooled: Boolean): Array[String] = {
    val t = new Dissect.Tracker(desegment = desegment, reuseBuffers = pooled)
    recs.iterator.map(r => render(Dissect.dissect(r, linktype, t))).toArray
  }

  /** TCP and UDP payloads of the Ethernet/IPv4 fixtures, first occurrence
    * order, deduplicated. */
  private def payloadPool(tcp: Boolean): Vector[Array[Byte]] = {
    val seen = mutable.LinkedHashMap.empty[String, Array[Byte]]
    for (f <- Seq("fix.pcap", "mixed.pcap", "sweep_extra.pcap", "mixed_ooo.pcap")) {
      val (lt, recs) = readCapture(new java.io.File(getClass.getResource("/" + f).toURI))
      if (lt == 1) recs.foreach { r =>
        val d = r.data
        if (d.length > 34 && (d(12) & 0xff) == 0x08 && d(13) == 0 && (d(14) >> 4) == 4) {
          val ihl = (d(14) & 0xf) * 4
          val l4 = 14 + ihl
          val proto = d(23) & 0xff
          val start =
            if (tcp && proto == 6 && d.length >= l4 + 20) l4 + ((d(l4 + 12) >> 4) & 0xf) * 4
            else if (!tcp && proto == 17 && d.length >= l4 + 8) l4 + 8
            else -1
          if (start > 0 && start < d.length) {
            val p = java.util.Arrays.copyOfRange(d, start, math.min(d.length, start + 1400))
            seen.getOrElseUpdate(new String(p, ISO_8859_1), p)
          }
        }
      }
    }
    seen.values.toVector
  }

  /** The synthetic sweep: each claimed port against an ephemeral port or
    * another claimed port, in both orientations, carrying fixture payloads
    * and a few random ones; every fifth frame is IPv6. */
  private def syntheticCapture(tcp: Boolean): Seq[PcapFormat.Record] = {
    val rnd = new scala.util.Random(if (tcp) 6 else 17)
    val pool = payloadPool(tcp) ++
      Vector.fill(8)(Array.fill(rnd.nextInt(64) + 1)(rnd.nextInt(256).toByte))
    val ports = if (tcp) tcpPorts else udpPorts
    val out = mutable.ArrayBuffer.empty[PcapFormat.Record]
    for (p <- ports; k <- 0 until 30) {
      val other = if (rnd.nextBoolean()) 32768 + rnd.nextInt(28000) else ports(rnd.nextInt(ports.length))
      val (sp, dp) = if (rnd.nextBoolean()) (p, other) else (other, p)
      val payload = pool(rnd.nextInt(pool.length))
      val v6 = out.length % 5 == 4
      val host = rnd.nextInt(4)
      val f = frame(tcp, v6, host, sp, dp, rnd.nextInt(), payload, rnd)
      out += PcapFormat.Record(out.length + 1L, 1000000L + out.length * 1000L,
        f.length, f.length, f)
    }
    out.toSeq
  }

  private def frame(tcp: Boolean, v6: Boolean, host: Int, sp: Int, dp: Int, seq: Int,
      payload: Array[Byte], rnd: scala.util.Random): Array[Byte] = {
    val l4 = if (tcp) 20 else 8
    val ipLen = if (v6) 40 else 20
    val b = ByteBuffer.allocate(14 + ipLen + l4 + payload.length)
    b.put(Array[Byte](0, 1, 2, 3, 4, 5, 0, 1, 2, 3, 4, 6))
    b.putShort((if (v6) 0x86dd else 0x0800).toShort)
    if (v6) {
      b.putInt(6 << 28).putShort((l4 + payload.length).toShort)
        .put((if (tcp) 6 else 17).toByte).put(64.toByte)
      b.putLong(0x20010db800000000L).putLong(host + 1L)
      b.putLong(0x20010db800000000L).putLong(0x100L + host)
    } else {
      b.put(0x45.toByte).put(0.toByte).putShort((ipLen + l4 + payload.length).toShort)
        .putShort(1.toShort).putShort(0.toShort).put(64.toByte)
        .put((if (tcp) 6 else 17).toByte).putShort(0.toShort)
        .put(Array[Byte](10, 0, 0, (host + 1).toByte)).put(Array[Byte](10, 9, 0, 1))
    }
    b.putShort(sp.toShort).putShort(dp.toShort)
    if (tcp) {
      b.putInt(seq).putInt(0).put((5 << 4).toByte).put(0x18.toByte)
        .putShort(8192.toShort).putShort(0.toShort).putShort(0.toShort)
    } else {
      b.putShort((8 + payload.length).toShort).putShort(rnd.nextInt(65536).toShort)
    }
    b.put(payload)
    b.array()
  }

  private def digest(lines: Array[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(x => f"$x%02x").mkString
  }

  test("pooled and fresh dissection agree per packet and match the recorded digests") {
    val inputs: Seq[(String, Int, Seq[PcapFormat.Record])] =
      fixtureFiles.map { f => val (lt, recs) = readCapture(f); (f.getName, lt, recs) } ++
        Seq(("synthetic_tcp", 1, syntheticCapture(tcp = true)),
          ("synthetic_udp", 1, syntheticCapture(tcp = false)))
    val actual = for ((name, lt, recs) <- inputs; deseg <- Seq(false, true)) yield {
      val fresh = renderAll(recs, lt, deseg, pooled = false)
      val pooled = renderAll(recs, lt, deseg, pooled = true)
      val bad = fresh.indices.find(i => fresh(i) != pooled(i))
      assert(bad.isEmpty, s"$name desegment=$deseg: pooled packet ${bad.map(_ + 1)} differs" +
        bad.map(i => s"\n fresh:  ${fresh(i)}\n pooled: ${pooled(i)}").getOrElse(""))
      s"$name\t$deseg\t${fresh.length}\t${digest(fresh)}"
    }
    val src = Source.fromInputStream(getClass.getResourceAsStream("/dissect_digests.tsv"), "UTF-8")
    val recorded = try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toVector
      finally src.close()
    val missing = recorded.diff(actual)
    val unexpected = actual.diff(recorded)
    assert(missing.isEmpty && unexpected.isEmpty,
      s"digests moved:\n recorded only:\n  ${missing.mkString("\n  ")}\n" +
        s" actual only:\n  ${unexpected.mkString("\n  ")}")
  }
}
