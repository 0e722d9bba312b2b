package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal MaxMind DB (`.mmdb`) binary reader — the reference's GeoIP
  * source opens `GeoLite2-Country.mmdb` directly (core/aggregator.go:
  * 154-157, core/database.go:5); this reads the same public format
  * (spec: maxmind.github.io/MaxMind-DB) without any MaxMind library.
  *
  * Engine shape: the reader runs ONCE on the driver and enumerates the
  * binary search tree into (start_ip_num, end_ip_num, code, name) ranges —
  * a few hundred k rows for a country database — which become
  * [[GeoIp.enrich]]'s broadcast range index. That keeps the per-event
  * cost a binary search like the reference's in-process lookup, with no
  * mmdb on executors.
  *
  * Supported: record sizes 24/28/32, IPv4 and IPv6 trees (IPv4 ranges are
  * read from the ::/96-prefixed subtree of a v6 database), all data types
  * that occur in country databases (pointer, utf8, double, bytes,
  * uint16/32/64, int32, map, array, boolean, float).
  */
object Mmdb {

  /** 0xAB 0xCD 0xEF "MaxMind.com" — precedes the metadata map. */
  private val Marker: Array[Byte] =
    Array(0xAB.toByte, 0xCD.toByte, 0xEF.toByte) ++ "MaxMind.com".getBytes("US-ASCII")

  case class Metadata(nodeCount: Int, recordSize: Int, ipVersion: Int,
      databaseType: String)

  /** One enumerated tree leaf. Code/name are null when the record's data
    * has no country (e.g. anonymous-network entries). */
  case class GeoRange(startIpNum: Long, endIpNum: Long,
      countryCode: String, countryName: String)

  // --- data-section decoder -------------------------------------------------

  /** Decodes the type-tagged value at `off` (relative to `base` in `bytes`);
    * returns (value, offset-after-value). Pointers are dereferenced
    * transparently. */
  private final class Decoder(bytes: Array[Byte], base: Int) {
    private def u8(i: Int): Int = bytes(base + i) & 0xFF

    private def beLong(off: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | u8(off + i); i += 1 }
      v
    }

    def decode(off: Int): (Any, Int) = {
      val ctrl = u8(off)
      var typ = ctrl >>> 5
      var cur = off + 1
      if (typ == 0) { typ = 7 + u8(cur); cur += 1 } // extended type byte
      if (typ == 1) { // pointer — size bits encode the pointer width
        val ss = (ctrl >>> 3) & 0x3
        val vbits = (ctrl & 0x7).toLong
        val (target, next) = ss match {
          case 0 => (((vbits << 8) | beLong(cur, 1)), cur + 1)
          case 1 => (((vbits << 16) | beLong(cur, 2)) + 2048L, cur + 2)
          case 2 => (((vbits << 24) | beLong(cur, 3)) + 526336L, cur + 3)
          case _ => (beLong(cur, 4), cur + 4)
        }
        return (decode(target.toInt)._1, next)
      }
      var size = ctrl & 0x1F
      if (size == 29) { size = 29 + u8(cur); cur += 1 }
      else if (size == 30) { size = 285 + beLong(cur, 2).toInt; cur += 2 }
      else if (size == 31) { size = 65821 + beLong(cur, 3).toInt; cur += 3 }
      typ match {
        case 2 => (new String(bytes, base + cur, size, "UTF-8"), cur + size)
        case 3 =>
          (java.lang.Double.longBitsToDouble(beLong(cur, 8)), cur + 8)
        case 4 =>
          (java.util.Arrays.copyOfRange(bytes, base + cur, base + cur + size),
            cur + size)
        case 5 | 6 | 9 => (beLong(cur, size), cur + size)
        case 8 => // int32: sign-extend the minimal big-endian encoding
          val raw = beLong(cur, size)
          val shift = 64 - size * 8
          ((if (size == 0) 0L else (raw << shift) >> shift), cur + size)
        case 10 => (BigInt(1, java.util.Arrays.copyOfRange(
          bytes, base + cur, base + cur + size)), cur + size)
        case 7 =>
          var m = Map.empty[String, Any]
          var c = cur
          var i = 0
          while (i < size) {
            val (k, c1) = decode(c)
            val (v, c2) = decode(c1)
            m += (k.asInstanceOf[String] -> v)
            c = c2
            i += 1
          }
          (m, c)
        case 11 =>
          var xs = List.empty[Any]
          var c = cur
          var i = 0
          while (i < size) { val (v, c1) = decode(c); xs ::= v; c = c1; i += 1 }
          (xs.reverse, c)
        case 14 => (size != 0, cur) // boolean: size IS the value, no payload
        case 15 =>
          (java.lang.Float.intBitsToFloat(beLong(cur, 4).toInt).toDouble, cur + 4)
        case t => throw new IllegalArgumentException(
          s"mmdb: unsupported data type $t at offset $off")
      }
    }
  }

  // --- file structure -------------------------------------------------------

  private def lastIndexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = hay.length - needle.length
    while (i >= 0) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i -= 1
    }
    -1
  }

  def readMetadata(bytes: Array[Byte]): Metadata = {
    val at = lastIndexOf(bytes, Marker)
    require(at >= 0, "mmdb: metadata marker not found — not an mmdb file")
    val meta = new Decoder(bytes, at + Marker.length).decode(0)._1
      .asInstanceOf[Map[String, Any]]
    Metadata(
      meta("node_count").asInstanceOf[Long].toInt,
      meta("record_size").asInstanceOf[Long].toInt,
      meta("ip_version").asInstanceOf[Long].toInt,
      meta.getOrElse("database_type", "").asInstanceOf[String])
  }

  /** Record `side` (0 = left, 1 = right) of `node`. */
  private def record(bytes: Array[Byte], recordSize: Int, node: Int, side: Int): Int = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    recordSize match {
      case 24 =>
        val o = node * 6 + side * 3
        (u8(o) << 16) | (u8(o + 1) << 8) | u8(o + 2)
      case 28 =>
        val o = node * 7
        val mid = u8(o + 3)
        if (side == 0) ((mid >>> 4) << 24) | (u8(o) << 16) | (u8(o + 1) << 8) | u8(o + 2)
        else ((mid & 0xF) << 24) | (u8(o + 4) << 16) | (u8(o + 5) << 8) | u8(o + 6)
      case 32 =>
        val o = node * 8 + side * 4
        (u8(o) << 24) | (u8(o + 1) << 16) | (u8(o + 2) << 8) | u8(o + 3)
      case s => throw new IllegalArgumentException(s"mmdb: record size $s")
    }
  }

  private def countryOf(data: Any): (String, String) = data match {
    case m: Map[String @unchecked, Any @unchecked] =>
      m.get("country").orElse(m.get("registered_country")) match {
        case Some(c: Map[String @unchecked, Any @unchecked]) =>
          val code = c.get("iso_code").map(_.asInstanceOf[String]).orNull
          val name = c.get("names") match {
            case Some(n: Map[String @unchecked, Any @unchecked]) =>
              n.get("en").map(_.asInstanceOf[String]).orNull
            case _ => null
          }
          (code, name)
        case _ => (null, null)
      }
    case _ => (null, null)
  }

  /** Enumerate every IPv4 leaf of the search tree into ranges. */
  def readRanges(bytes: Array[Byte]): Seq[GeoRange] = {
    val meta = readMetadata(bytes)
    val treeSize = meta.nodeCount * (meta.recordSize / 4)
    val decoder = new Decoder(bytes, treeSize + 16)
    val out = Seq.newBuilder[GeoRange]

    def emit(prefix: Long, depth: Int, rec: Int): Unit = {
      val start = prefix << (32 - depth)
      val end = start + (1L << (32 - depth)) - 1
      val (value, _) = decoder.decode(rec - meta.nodeCount - 16)
      val (code, name) = countryOf(value)
      out += GeoRange(start, end, code, name)
    }

    def dfs(node: Int, prefix: Long, depth: Int): Unit = {
      var side = 0
      while (side <= 1) {
        val rec = record(bytes, meta.recordSize, node, side)
        val p = (prefix << 1) | side
        if (rec < meta.nodeCount) {
          if (depth + 1 < 32) dfs(rec, p, depth + 1)
          else () // deeper than /32 in the v4 plane — nothing to emit
        } else if (rec > meta.nodeCount) emit(p, depth + 1, rec)
        side += 1
      }
    }

    // A v6 tree holds IPv4 under ::/96: follow 96 zero bits first.
    var root = 0
    var ok = true
    if (meta.ipVersion == 6) {
      var i = 0
      while (i < 96 && ok) {
        val rec = record(bytes, meta.recordSize, root, 0)
        if (rec < meta.nodeCount) root = rec else ok = false
        i += 1
      }
    }
    if (ok) dfs(root, 0L, 0)
    out.result()
  }

  def readRanges(path: String): Seq[GeoRange] =
    readRanges(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Read an mmdb file into the geo range DataFrame consumed by
    * [[GeoIp.enrich]] (same schema as [[GeoIp.fromCsv]]). Driver-side
    * one-time read; the result is dimension-sized and broadcast as
    * [[GeoIp.enrich]]'s range index. */
  def fromMmdb(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    readRanges(path)
      .map(r => (r.startIpNum, r.endIpNum, r.countryCode, r.countryName))
      .toDF("start_ip_num", "end_ip_num", "country_code", "country_name")
  }
}
