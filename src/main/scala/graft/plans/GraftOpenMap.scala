package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Build-side map contract shared by the exec's interpreted and
  * whole-stage-generated probe loops (the generated Java calls
  * `headFor`/`rowAt`/`next` directly, so this must stay a plain JVM
  * interface). One thread writes a map, then it is only read: a
  * co-partitioned build's map belongs to its task, and a shared build's
  * map, once built, is read by every probe task on its executor at once
  * (lookups change no state). */
trait GraftBuildMap {
  /** The map keeps its own copy of `row`, so the caller may reuse it. */
  def append(row: InternalRow): Unit
  def size: Int
  def clear(): Unit
  def next(i: Int): Int
  def rowAt(i: Int): InternalRow
  def headFor(key: UnsafeRow): Int
}

/** Row storage and chain links shared by the compact maps: the bytes of
  * appended `UnsafeRow`s are copied into row pages and `rowAt` returns a
  * view made once per row, so the build rows a probe reads sit side by
  * side in memory rather than one object pair each across the heap.
  * Pages start small and double, so a small build (one task's slice, one
  * spill chunk) takes little memory. A subclass indexes each row's
  * non-null key. */
abstract class GraftPagedMap(keyProj: UnsafeProjection) extends GraftBuildMap {
  private val rowsBuf = new mutable.ArrayBuffer[InternalRow]()
  private var nextIdx = new Array[Int](1024)
  private var page: Array[Byte] = null
  private var pageUsed = 0

  /** Index row `idx` under `key`; the key's previous chain head, or -1. */
  protected def link(key: UnsafeRow, idx: Int): Int

  protected def clearIndex(): Unit

  final override def size: Int = rowsBuf.length

  final override def clear(): Unit = {
    rowsBuf.clear()
    page = null
    pageUsed = 0
    clearIndex()
  }

  /** The row as kept: an `UnsafeRow`'s bytes are copied into the row
    * pages, any other row is copied as it is. */
  private def kept(row: InternalRow): InternalRow = row match {
    case u: UnsafeRow =>
      val n = u.getSizeInBytes
      if (page == null || pageUsed + n > page.length) {
        val grown =
          if (page == null) GraftPagedMap.FirstPageBytes
          else math.min(page.length * 2, GraftPagedMap.PageBytes)
        page = new Array[Byte](math.max(grown, n))
        pageUsed = 0
      }
      val at = Platform.BYTE_ARRAY_OFFSET + pageUsed
      Platform.copyMemory(u.getBaseObject, u.getBaseOffset, page, at, n)
      pageUsed += n
      val view = new UnsafeRow(u.numFields)
      view.pointTo(page, at, n)
      view
    case other => other.copy()
  }

  final override def append(row: InternalRow): Unit = {
    val idx = rowsBuf.length
    rowsBuf += kept(row)
    if (nextIdx.length <= idx) nextIdx = java.util.Arrays.copyOf(nextIdx, nextIdx.length * 2)
    val key = keyProj(row)
    nextIdx(idx) = if (key.anyNull) -1 else link(key, idx)
  }

  final override def next(i: Int): Int = nextIdx(i)

  final override def rowAt(i: Int): InternalRow = rowsBuf(i)
}

object GraftPagedMap {
  private val FirstPageBytes = 4 << 10

  /** Largest row page: under half of G1's smallest region, so no page is
    * a humongous allocation. A larger row gets a page of its own. */
  private val PageBytes = 256 << 10
}

/** Open-addressing build map — the reference's version10 design
  * (reference `src/operator/version10/build_implementation.rs:13-191`,
  * `new_map_3/fixed_table.rs`: open-addressed slot table, probe
  * sequences, generational growth) in its single-writer form: a
  * power-of-two slot array probed linearly, per-key chain heads, and
  * int-chain row links (`GraftPagedMap.next`). The reference's SIMD
  * group scan and cooperative migration are dropped (one writer, no
  * contention); growth re-probes entries by their stored hash.
  *
  * The layout is compact, so that a lookup touches a few dense arrays:
  * a slot packs an entry's key hash (high 32 bits) and entry index + 1
  * (low 32 bits; 0 = empty) into one long, so most mismatches are
  * rejected without leaving the slot array, and key bytes sit back to
  * back in one key page, compared in place. Rows are paged
  * ([[GraftPagedMap]]). The map for keys other than one integral
  * column. */
final class GraftOpenMap(keyProj: UnsafeProjection) extends GraftPagedMap(keyProj) {
  // per entry (one per distinct non-null key): chain head, key bytes at
  // keyPage[keyOff(e) until keyOff(e + 1)]
  private var entryHead = new Array[Int](256)
  private var keyOff = new Array[Int](257)
  private var keyPage = new Array[Byte](4096)
  private var nEntries = 0

  // slot table, capacity a power of two, at most half full
  private var slots = new Array[Long](512)
  private var mask = 511

  override protected def clearIndex(): Unit = {
    nEntries = 0
    java.util.Arrays.fill(slots, 0L)
  }

  private def keyEquals(e: Int, key: UnsafeRow): Boolean = {
    val off = keyOff(e)
    val len = keyOff(e + 1) - off
    len == key.getSizeInBytes && ByteArrayMethods.arrayEquals(
      keyPage, Platform.BYTE_ARRAY_OFFSET + off, key.getBaseObject, key.getBaseOffset, len)
  }

  /** Linear probe: the slot holding `key`'s entry, or the empty slot
    * where it would be inserted. */
  private def findSlot(h: Int, key: UnsafeRow): Int = {
    var s = h & mask
    while (true) {
      val v = slots(s)
      if (v == 0L || ((v >>> 32).toInt == h && keyEquals(v.toInt - 1, key))) return s
      s = (s + 1) & mask
    }
    -1 // unreachable
  }

  /** Generational growth: double the slot table and re-probe every
    * entry by its stored hash (rows and chains are untouched). */
  private def grow(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    mask = slots.length - 1
    for (v <- old if v != 0L) {
      var s = (v >>> 32).toInt & mask
      while (slots(s) != 0L) s = (s + 1) & mask
      slots(s) = v
    }
  }

  override protected def link(key: UnsafeRow, idx: Int): Int = {
    if ((nEntries + 1) * 2 > slots.length) grow()
    val h = key.hashCode
    val s = findSlot(h, key)
    val v = slots(s)
    if (v == 0L) {
      if (entryHead.length <= nEntries) {
        entryHead = java.util.Arrays.copyOf(entryHead, entryHead.length * 2)
        keyOff = java.util.Arrays.copyOf(keyOff, keyOff.length * 2)
      }
      val off = keyOff(nEntries)
      val len = key.getSizeInBytes
      if (keyPage.length < off + len) {
        keyPage = java.util.Arrays.copyOf(keyPage, math.max(keyPage.length * 2, off + len))
      }
      Platform.copyMemory(key.getBaseObject, key.getBaseOffset,
        keyPage, Platform.BYTE_ARRAY_OFFSET + off, len)
      keyOff(nEntries + 1) = off + len
      entryHead(nEntries) = idx
      nEntries += 1
      slots(s) = (h.toLong << 32) | nEntries.toLong
      -1
    } else {
      // existing key: this row becomes the entry's chain head
      val e = v.toInt - 1
      val prev = entryHead(e)
      entryHead(e) = idx
      prev
    }
  }

  override def headFor(key: UnsafeRow): Int =
    if (key.anyNull) -1
    else {
      val v = slots(findSlot(key.hashCode, key))
      if (v == 0L) -1 else entryHead(v.toInt - 1)
    }
}

/** Build map for one integral key column (the analog of Spark's
  * `LongHashedRelation`): the key's value, widened to a long, is the
  * key. A slot is a (key, chain head + 1) pair of adjacent longs in one
  * table (head 0 = empty), so a lookup reads the probe key's one field,
  * mixes it and usually finds its answer in one cache line — no key
  * bytes, no hash of a row; the generated probe loop passes the value
  * itself. Rows are paged ([[GraftPagedMap]]). */
final class GraftLongMap(keyProj: UnsafeProjection, keyType: DataType)
    extends GraftPagedMap(keyProj) {
  private val read: UnsafeRow => Long = keyType match {
    case LongType => _.getLong(0)
    case IntegerType | DateType => _.getInt(0).toLong
    case ShortType => _.getShort(0).toLong
    case ByteType => _.getByte(0).toLong
    case t => throw new IllegalArgumentException(s"not an integral key type: $t")
  }

  private var table = new Array[Long](2 * 512)
  private var bits = 9
  private var nKeys = 0

  /** Fibonacci hashing: the top `bits` bits of the key times 2^64/phi. */
  private def home(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

  private def slotOf(k: Long): Int = {
    val mask = (1 << bits) - 1
    var s = home(k)
    while (table(2 * s + 1) != 0L && table(2 * s) != k) s = (s + 1) & mask
    s
  }

  override protected def clearIndex(): Unit = {
    nKeys = 0
    java.util.Arrays.fill(table, 0L)
  }

  private def grow(): Unit = {
    val old = table
    bits += 1
    table = new Array[Long](2 << bits)
    var i = 0
    while (i < old.length) {
      if (old(i + 1) != 0L) {
        val s = slotOf(old(i))
        table(2 * s) = old(i)
        table(2 * s + 1) = old(i + 1)
      }
      i += 2
    }
  }

  override protected def link(key: UnsafeRow, idx: Int): Int = {
    if ((nKeys + 1) * 2 > (1 << bits)) grow()
    val k = read(key)
    val s = slotOf(k)
    val prev = table(2 * s + 1).toInt - 1
    if (prev == -1) {
      table(2 * s) = k
      nKeys += 1
    }
    table(2 * s + 1) = idx + 1L
    prev
  }

  override def headFor(key: UnsafeRow): Int =
    if (key.anyNull) -1 else headForLong(read(key))

  /** The chain head for a non-null key given as its value: the generated
    * probe loop's lookup, with no key row to build. */
  def headForLong(k: Long): Int = table(2 * slotOf(k) + 1).toInt - 1
}
