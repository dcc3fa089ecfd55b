package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The client side's own protobuf codec for the BTrDB messages the
  * benchmark sends and reads. It is kept apart from the engine's codec
  * so that a change to the server's encoder never changes the client's
  * cost, which the transport metric assumes is fixed. */
final class ProtoOut {
  private val out = new java.io.ByteArrayOutputStream(256)
  def bytes: Array[Byte] = out.toByteArray
  private def varint(v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(f: Int, w: Int): Unit = varint((f.toLong << 3) | w)
  private def fixed(v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  def uint(f: Int, v: Long): ProtoOut = { if (v != 0) { tag(f, 0); varint(v) }; this }
  def bool(f: Int, v: Boolean): ProtoOut = uint(f, if (v) 1 else 0)
  def sfixed(f: Int, v: Long): ProtoOut = { if (v != 0) { tag(f, 1); fixed(v) }; this }
  def double(f: Int, v: Double): ProtoOut = {
    val b = java.lang.Double.doubleToRawLongBits(v)
    if (b != 0) { tag(f, 1); fixed(b) }
    this
  }
  def raw(f: Int, b: Array[Byte]): ProtoOut = {
    tag(f, 2); varint(b.length.toLong); out.write(b, 0, b.length); this
  }
  def string(f: Int, s: String): ProtoOut = raw(f, s.getBytes(UTF_8))
  def message(f: Int, m: ProtoOut): ProtoOut = raw(f, m.bytes)
}

final class ProtoIn(buf: Array[Byte], from: Int, to: Int) {
  def this(b: Array[Byte]) = this(b, 0, b.length)
  private var pos = from
  def hasNext: Boolean = pos < to
  def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
  def varint(): Long = {
    var shift = 0; var v = 0L; var more = true
    while (more) {
      require(pos < to && shift < 64, "bad varint")
      val b = buf(pos); pos += 1
      v |= (b & 0x7fL) << shift
      more = (b & 0x80) != 0
      shift += 7
    }
    v
  }
  def fixed(): Long = {
    require(pos + 8 <= to, "truncated fixed64")
    var v = 0L; var i = 0
    while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8
    v
  }
  def double(): Double = java.lang.Double.longBitsToDouble(fixed())
  def sub(): ProtoIn = {
    val n = varint().toInt
    require(n >= 0 && pos + n <= to, "truncated field")
    val r = new ProtoIn(buf, pos, pos + n); pos += n; r
  }
  def string(): String = {
    val n = varint().toInt
    require(n >= 0 && pos + n <= to, "truncated field")
    val s = new String(buf, pos, n, UTF_8); pos += n; s
  }
  def skip(w: Int): Unit = w match {
    case 0 => varint(); ()
    case 1 => pos += 8
    case 2 => sub(); ()
    case 5 => pos += 4
    case x => throw new IllegalArgumentException(s"wire type $x")
  }
}

/** Decoded reply of one RPC: the status code (0 when no `stat` was
  * sent), the major version and the repeated payload of field 4 —
  * raw points, stat points or change ranges, whichever the method
  * returns — plus any stream descriptors. */
final class Reply {
  var stat = 0
  var statMsg = ""
  var major = 0L
  val times = new LongBuf
  val values = new DoubleBuf
  // stat points (time in `times`): min, mean, max, count
  val mins = new DoubleBuf
  val means = new DoubleBuf
  val maxs = new DoubleBuf
  val counts = new LongBuf
  // Changes: range end (start in `times`)
  val ends = new LongBuf
  val collections = scala.collection.mutable.ArrayBuffer.empty[String]
  var descriptors = 0
}

object Proto {
  /** Fold one response message of `method` into `r`. */
  def decode(method: String, msg: Array[Byte], r: Reply): Unit = {
    val in = new ProtoIn(msg)
    while (in.hasNext) in.tag() match {
      case (1, 2) =>
        val st = in.sub()
        while (st.hasNext) st.tag() match {
          case (1, _) => r.stat = st.varint().toInt
          case (2, 2) => r.statMsg = st.string()
          case (_, w) => st.skip(w)
        }
      case (2, 2) if method == "LookupStreams" =>
        val d = in.sub(); r.descriptors += 1
        while (d.hasNext) d.tag() match {
          case (2, 2) => r.collections += d.string()
          case (_, w) => d.skip(w)
        }
      case (2, 0) => r.major = in.varint()
      case (4, 2) if method == "StreamInfo" =>
        val d = in.sub(); r.descriptors += 1
        while (d.hasNext) d.tag() match {
          case (2, 2) => r.collections += d.string()
          case (_, w) => d.skip(w)
        }
      case (4, 2) =>
        val p = in.sub()
        method match {
          case "RawValues" | "Nearest" =>
            var t = 0L; var v = 0.0
            while (p.hasNext) p.tag() match {
              case (1, 1) => t = p.fixed()
              case (2, 1) => v = p.double()
              case (_, w) => p.skip(w)
            }
            r.times += t; r.values += v
          case "Changes" =>
            var s = 0L; var e = 0L
            while (p.hasNext) p.tag() match {
              case (1, 1) => s = p.fixed()
              case (2, 1) => e = p.fixed()
              case (_, w) => p.skip(w)
            }
            r.times += s; r.ends += e
          case _ => // AlignedWindows / Windows stat points
            var t = 0L; var mn = 0.0; var me = 0.0; var mx = 0.0; var c = 0L
            while (p.hasNext) p.tag() match {
              case (1, 1) => t = p.fixed()
              case (2, 1) => mn = p.double()
              case (3, 1) => me = p.double()
              case (4, 1) => mx = p.double()
              case (5, 1) => c = p.fixed()
              case (_, w) => p.skip(w)
            }
            r.times += t; r.mins += mn; r.means += me; r.maxs += mx
            r.counts += c
        }
      case (_, w) => in.skip(w)
    }
  }

  def uuidBytes(u: String): Array[Byte] = {
    val id = java.util.UUID.fromString(u)
    java.nio.ByteBuffer.allocate(16).putLong(id.getMostSignificantBits)
      .putLong(id.getLeastSignificantBits).array()
  }
}

/** Growable primitive buffers (the replies hold up to ~10^6 points). */
final class LongBuf {
  private var a = new Array[Long](16)
  var size = 0
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Long = a(i)
}

final class DoubleBuf {
  private var a = new Array[Double](16)
  var size = 0
  def +=(v: Double): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def apply(i: Int): Double = a(i)
}
