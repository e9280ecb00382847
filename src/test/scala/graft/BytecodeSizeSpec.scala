package graft

import java.io.{ByteArrayInputStream, DataInputStream, File}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every method of the pcap dissector and the pcap source small
  * enough for the JIT. HotSpot never compiles a method whose bytecode is
  * longer than `HugeMethodLimit` (8,000 bytes, `DontCompileHugeMethods`
  * on by default), so such a method runs interpreted for the life of the
  * executor — the per-packet TCP and UDP dissectors once did.
  *
  * Class initializers are left out: `<clinit>` runs once per class load,
  * so its size costs nothing per packet (Dissect's builds its name tables
  * and dissector tables there).
  */
class BytecodeSizeSpec extends AnyFunSuite {

  private val HugeMethodLimit = 8000

  private def classFiles(pkg: String): Seq[File] =
    getClass.getClassLoader.getResources(pkg).asScala.toSeq
      .filter(_.getProtocol == "file")
      .flatMap(u => Files.walk(new File(u.toURI).toPath).iterator.asScala)
      .map(_.toFile).filter(_.getName.endsWith(".class"))

  /** (method name, bytecode length) of every method with a `Code`
    * attribute, read straight from the class file (JVMS §4). */
  private def codeLengths(bytes: Array[Byte]): Seq[(String, Int)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    in.skipBytes(8) // magic, minor, major
    val n = in.readUnsignedShort()
    val utf8 = new Array[String](n)
    var i = 1
    while (i < n) {
      in.readUnsignedByte() match {
        case 1 => utf8(i) = in.readUTF()
        case 5 | 6 => in.skipBytes(8); i += 1 // long and double take two slots
        case 7 | 8 | 16 | 19 | 20 => in.skipBytes(2)
        case 15 => in.skipBytes(3)
        case _ => in.skipBytes(4)
      }
      i += 1
    }
    in.skipBytes(6) // access flags, this, super
    in.skipBytes(2 * in.readUnsignedShort()) // interfaces
    val out = Seq.newBuilder[(String, Int)]
    for (isMethod <- Seq(false, true); _ <- 0 until in.readUnsignedShort()) {
      in.skipBytes(2)
      val name = utf8(in.readUnsignedShort())
      in.skipBytes(2)
      for (_ <- 0 until in.readUnsignedShort()) {
        val attr = utf8(in.readUnsignedShort())
        val len = in.readInt()
        if (isMethod && attr == "Code") {
          in.skipBytes(4) // max_stack, max_locals
          out += ((name, in.readInt()))
          in.skipBytes(len - 8)
        } else in.skipBytes(len)
      }
    }
    out.result()
  }

  test("no pcap dissector or source method exceeds HotSpot's huge-method limit") {
    val sizes = for {
      pkg <- Seq("graft/pcap", "graft/sources/pcap")
      f <- classFiles(pkg)
      (method, len) <- codeLengths(Files.readAllBytes(f.toPath)) if method != "<clinit>"
    } yield (s"${f.getName}::$method", len)
    assert(sizes.exists(_._1 == "Dissect$.class::dissectTcp"), "class files not found or unreadable")
    val huge = sizes.filter(_._2 > HugeMethodLimit).sortBy(-_._2)
    assert(huge.isEmpty, s"methods over $HugeMethodLimit bytecode bytes: ${huge.mkString(", ")}")
  }
}
