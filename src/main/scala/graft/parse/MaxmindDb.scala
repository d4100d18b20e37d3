package graft.parse

import graft.model.Geo
import graft.util.CidrUtil

/** Reader for the MaxMind DB (.mmdb) binary format — the database
  * format the reference's GeoIP enrichment loads (ref s/parser/
  * GeoIP.java:18-150 via the maxmind geoip2 library). Implemented
  * from the public format specification (maxmind.github.io/MaxMind-DB
  * v2.0): binary search tree over address bits, type-tagged data
  * section, metadata map after the \\xAB\\xCD\\xEFMaxMind.com marker.
  *
  * Scope: IPv4 lookups (including IPv4-in-IPv6 trees via the
  * 96-zero-bit prefix walk), record sizes 24/28/32, the full data
  * type set needed by City/ISP databases (pointer, utf8, double,
  * uint16/32/64, int32, map, array, bool, float, bytes).
  *
  * The reader is driver-constructed and ships to executors as a
  * serialized byte array (GeoLite city DBs are tens of MB — ride a
  * broadcast, same as the reference's per-worker reader init); all
  * lookup state is offsets into that array, so lookups allocate
  * nothing but the result.
  */
final class MaxmindDb(db: Array[Byte]) extends Serializable {

  import MaxmindDb._

  private val metadataStart: Int = {
    var i = db.length - Marker.length
    while (i >= 0 && !markerAt(i)) i -= 1
    require(i >= 0, "not an MMDB file: metadata marker not found")
    i + Marker.length
  }

  private def markerAt(i: Int): Boolean = {
    var k = 0
    while (k < Marker.length && db(i + k) == Marker(k)) k += 1
    k == Marker.length
  }

  /** Decoded metadata map. */
  val metadata: Map[String, Any] =
    decode(metadataStart, metadataStart)._1.asInstanceOf[Map[String, Any]]

  val nodeCount: Int = metadata("node_count") match {
    case l: Long => l.toInt
    case i: Int => i
  }
  val recordSizeBits: Int = metadata("record_size") match {
    case l: Long => l.toInt
    case i: Int => i
  }
  val ipVersion: Int = metadata("ip_version") match {
    case l: Long => l.toInt
    case i: Int => i
  }
  private val nodeBytes = recordSizeBits * 2 / 8
  private val treeSize = nodeCount * nodeBytes
  private val dataStart = treeSize + 16 // 16-byte zero separator

  private def u(b: Byte): Int = b & 0xff

  /** Record `side` (0 = left, 1 = right) of tree node `node`. */
  private def record(node: Int, side: Int): Int = {
    val base = node * nodeBytes
    recordSizeBits match {
      case 24 =>
        val o = base + side * 3
        (u(db(o)) << 16) | (u(db(o + 1)) << 8) | u(db(o + 2))
      case 28 =>
        if (side == 0)
          ((u(db(base + 3)) >> 4) << 24) | (u(db(base)) << 16) |
            (u(db(base + 1)) << 8) | u(db(base + 2))
        else
          ((u(db(base + 3)) & 0x0f) << 24) | (u(db(base + 4)) << 16) |
            (u(db(base + 5)) << 8) | u(db(base + 6))
      case 32 =>
        val o = base + side * 4
        (u(db(o)) << 24) | (u(db(o + 1)) << 16) | (u(db(o + 2)) << 8) |
          u(db(o + 3))
      case other =>
        throw new IllegalStateException(s"unsupported record size $other")
    }
  }

  /** Look up an IPv4 address; returns the decoded data record. */
  def lookup(ip: String): Option[Map[String, Any]] =
    CidrUtil.ipToLong(ip).flatMap { v =>
      var node = 0
      // IPv4 in an IPv6 tree: 96 leading zero bits first
      if (ipVersion == 6) {
        var i = 0
        while (i < 96 && node < nodeCount) { node = record(node, 0); i += 1 }
      }
      var bit = 31
      while (bit >= 0 && node < nodeCount) {
        node = record(node, ((v >>> bit) & 1L).toInt)
        bit -= 1
      }
      if (node == nodeCount) None // no-data marker
      else if (node < nodeCount) None // ran out of bits mid-tree (malformed)
      else {
        val offset = node - nodeCount + treeSize
        decode(offset, dataStart)._1 match {
          case m: Map[_, _] => Some(m.asInstanceOf[Map[String, Any]])
          case _ => None
        }
      }
    }

  /** Decode the value at `off`; `sectionStart` anchors pointers
    * (data-section start for tree data, metadata start for the
    * metadata map). Returns (value, next offset). */
  private def decode(off: Int, sectionStart: Int): (Any, Int) = {
    val ctrl = u(db(off))
    var tpe = ctrl >> 5
    var i = off + 1
    if (tpe == 0) { tpe = u(db(i)) + 7; i += 1 } // extended type
    if (tpe == 1) {
      // pointer: 2 size bits + 3 value bits in the control byte
      val ss = (ctrl >> 3) & 0x3
      val vv = ctrl & 0x7
      val (target, next) = ss match {
        case 0 => ((vv << 8) | u(db(i)), i + 1)
        case 1 => (((vv << 16) | (u(db(i)) << 8) | u(db(i + 1))) + 2048, i + 2)
        case 2 => (((vv << 24) | (u(db(i)) << 16) | (u(db(i + 1)) << 8) |
          u(db(i + 2))) + 526336, i + 3)
        case _ => ((u(db(i)) << 24) | (u(db(i + 1)) << 16) |
          (u(db(i + 2)) << 8) | u(db(i + 3)), i + 4)
      }
      return (decode(sectionStart + target, sectionStart)._1, next)
    }
    var size = ctrl & 0x1f
    if (size == 29) { size = 29 + u(db(i)); i += 1 }
    else if (size == 30) { size = 285 + (u(db(i)) << 8) + u(db(i + 1)); i += 2 }
    else if (size == 31) {
      size = 65821 + (u(db(i)) << 16) + (u(db(i + 1)) << 8) + u(db(i + 2)); i += 3
    }
    tpe match {
      case 2 => // utf8 string
        (new String(db, i, size, "UTF-8"), i + size)
      case 3 => // double
        (java.lang.Double.longBitsToDouble(beLong(i, 8)), i + 8)
      case 4 => // bytes
        (db.slice(i, i + size), i + size)
      case 5 | 6 | 9 => // uint16 / uint32 / uint64 (variable length)
        (beLong(i, size), i + size)
      case 7 => // map
        var o = i
        val b = Map.newBuilder[String, Any]
        var k = 0
        while (k < size) {
          val (key, o1) = decode(o, sectionStart)
          val (value, o2) = decode(o1, sectionStart)
          b += key.asInstanceOf[String] -> value
          o = o2
          k += 1
        }
        (b.result(), o)
      case 8 => // int32
        (beLong(i, size), i + size)
      case 10 => // uint128 — return low 64 bits (unused by City/ISP)
        (beLong(math.max(i, i + size - 8), math.min(size, 8)), i + size)
      case 11 => // array
        var o = i
        val b = Seq.newBuilder[Any]
        var k = 0
        while (k < size) {
          val (value, o1) = decode(o, sectionStart)
          b += value
          o = o1
          k += 1
        }
        (b.result(), o)
      case 14 => // bool: size IS the value
        (size != 0, i)
      case 15 => // float
        (java.lang.Float.intBitsToFloat(beLong(i, 4).toInt).toDouble, i + 4)
      case other =>
        throw new IllegalStateException(s"unsupported MMDB type $other")
    }
  }

  private def beLong(off: Int, n: Int): Long = {
    var acc = 0L
    var k = 0
    while (k < n) { acc = (acc << 8) | u(db(off + k)); k += 1 }
    acc
  }
}

object MaxmindDb {
  private val Marker: Array[Byte] =
    Array(0xab.toByte, 0xcd.toByte, 0xef.toByte) ++
      "MaxMind.com".getBytes("UTF-8")

  private def path(m: Map[String, Any], keys: String*): Option[Any] =
    keys.foldLeft(Option[Any](m)) {
      case (Some(mm: Map[_, _]), k) =>
        mm.asInstanceOf[Map[String, Any]].get(k)
      case _ => None
    }

  /** City-database record → the engine's Geo shape (ref
    * GeoIP.java:152-231 field extraction). */
  def toGeo(rec: Map[String, Any]): Geo = Geo(
    city = path(rec, "city", "names", "en").map(_.toString),
    country = path(rec, "country", "iso_code").map(_.toString),
    timeZone = path(rec, "location", "time_zone").map(_.toString),
    latitude = path(rec, "location", "latitude").collect { case d: Double => d },
    longitude = path(rec, "location", "longitude").collect { case d: Double => d },
    isp = path(rec, "isp").map(_.toString),
    asn = path(rec, "autonomous_system_number").collect {
      case l: Long => l.toInt },
    asOrg = path(rec, "autonomous_system_organization").map(_.toString))

  /** GeoIpResolver over an MMDB city database, pluggable into
    * GeoIp.enrich. */
  final class MmdbResolver(db: MaxmindDb) extends GeoIp.GeoIpResolver {
    def lookup(ip: String): Option[Geo] = db.lookup(ip).map(toGeo)
  }
}
