package graft.plans

import java.io.{DataInput, DataInputStream, DataOutput, DataOutputStream, Externalizable,
  ObjectInput, ObjectOutput}

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.joins.GraftRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Build-side map of the exec's probe loops, interpreted and generated
  * (the generated Java calls `headFor`/`headForLong`, `next`, `pointTo`,
  * `recordAfter` and `end` directly). One thread appends rows,
  * [[finish]] ends the build, then the map is only read: a co-partitioned
  * build's map belongs to its task, and a shared build's map is the
  * broadcast value itself, read by every probe task at once. A lookup
  * changes no state, and each reader points its own `UnsafeRow` at a
  * record, so readers share nothing.
  *
  * Every row is one record in a single `long[]` page, addressed by its word
  * offset, with no object per row:
  *  - a header word: the address + 1 of the next record with the same key
  *    (high 32 bits; 0 ends the chain) and the row's byte length (low);
  *  - in a map that keeps its keys in the records ([[GraftOpenMap]]), a
  *    word with the key's byte length;
  *  - the row's bytes, then the key's bytes, each padded to whole words.
  * A match therefore costs the index lookup and one read of the page.
  * Records sit in append order, and an address names its row: the joins
  * that emit build rows mark them in a bitset by address (one bit per page
  * word). A subclass indexes each row whose key has no null; a null-keyed
  * row is kept (outer and anti joins emit it) but never matches.
  *
  * Serialized as its flat arrays ([[Externalizable]] and
  * [[KryoSerializable]]), so a broadcast ships a few arrays, not an
  * object per row. */
abstract class GraftBuildMap(keyProj: UnsafeProjection)
    extends GraftRelation with Externalizable with KryoSerializable {
  import GraftBuildMap._

  private var page = new Array[Long](FirstPageWords)
  private var used = 0
  private var nRows = 0
  private var nIndexed = 0

  /** Nanoseconds its builder spent on this map (the exec's `buildTime`). */
  var buildNanos = 0L

  /** Whether a record keeps its key's bytes after the row's, behind a
    * second header word. */
  protected def keyInRecord: Boolean

  private def headerWords: Int = if (keyInRecord) 2 else 1

  /** Index the record at `addr` under `key`; the key's previous chain
    * head, or -1. */
  protected def link(key: UnsafeRow, addr: Int): Int

  protected def clearIndex(): Unit

  /** Called once the rows are in: the index may change its layout. */
  protected def finishIndex(): Unit = ()

  protected def indexBytes: Long

  protected def writeIndex(out: DataOutput): Unit

  protected def readIndex(in: DataInput): Unit

  /** Distinct non-null keys. */
  def numKeys: Int

  /** The address of the first record with `key`, or -1. */
  def headFor(key: UnsafeRow): Int

  /** Rows, null-keyed ones included. */
  final def size: Int = nRows

  /** No key has two rows: a match needs no chain walk. */
  final override def keyIsUnique: Boolean = numKeys == nIndexed

  final override def estimatedSize: Long = 8L * page.length + indexBytes

  final def append(row: UnsafeRow): Unit = {
    val key = keyProj(row)
    val indexed = !key.anyNull
    val rowBytes = row.getSizeInBytes
    val keyBytes = if (indexed && keyInRecord) key.getSizeInBytes else 0
    val addr = used
    val words = headerWords.toLong + wordsOf(rowBytes) + wordsOf(keyBytes)
    if (addr + words > page.length) grow(addr + words)
    page(addr) = rowBytes
    if (keyInRecord) page(addr + 1) = keyBytes
    val at = Platform.LONG_ARRAY_OFFSET + 8L * (addr + headerWords)
    Platform.copyMemory(row.getBaseObject, row.getBaseOffset, page, at, rowBytes)
    if (keyBytes > 0) {
      Platform.copyMemory(key.getBaseObject, key.getBaseOffset,
        page, at + 8L * wordsOf(rowBytes), keyBytes)
    }
    used = (addr + words).toInt
    nRows += 1
    if (indexed) {
      nIndexed += 1
      page(addr) |= (link(key, addr) + 1L) << 32
    }
  }

  private def grow(words: Long): Unit = {
    if (words > MaxPageWords) {
      throw new IllegalStateException(s"build rows exceed ${MaxPageWords * 8} bytes")
    }
    val n = math.min(math.max(words, math.max(page.length * 2L, FirstPageWords)), MaxPageWords)
    page = java.util.Arrays.copyOf(page, n.toInt)
  }

  /** Ends the build: the page is cut to the words in use (a map lives as
    * long as its broadcast value, so no slack is kept) and the index takes
    * its final layout. */
  final def finish(): Unit = {
    if (page.length != used) page = java.util.Arrays.copyOf(page, used)
    finishIndex()
  }

  final def clear(): Unit = {
    used = 0
    nRows = 0
    nIndexed = 0
    clearIndex()
  }

  /** The next record with the same key as the one at `addr`, or -1. */
  final def next(addr: Int): Int = (page(addr) >>> 32).toInt - 1

  /** Points `row` at the record's row bytes; returns `row`. */
  final def pointTo(row: UnsafeRow, addr: Int): UnsafeRow = {
    row.pointTo(page, Platform.LONG_ARRAY_OFFSET + 8L * (addr + headerWords), page(addr).toInt)
    row
  }

  /** The record that follows the one at `addr` in the page: records are
    * walked from 0 while below [[end]]. */
  final def recordAfter(addr: Int): Int = {
    val keyWords = if (keyInRecord) wordsOf(page(addr + 1).toInt) else 0
    addr + headerWords + wordsOf(page(addr).toInt) + keyWords
  }

  final def end: Int = used

  /** Record addresses in append order. */
  final def addresses: Iterator[Int] = Iterator.iterate(0)(recordAfter).takeWhile(_ < used)

  /** Whether the record at `addr` keeps exactly `key`'s bytes. */
  protected final def keyEquals(addr: Int, key: UnsafeRow): Boolean = {
    val len = page(addr + 1).toInt
    len == key.getSizeInBytes && ByteArrayMethods.arrayEquals(
      page, Platform.LONG_ARRAY_OFFSET + 8L * (addr + 2 + wordsOf(page(addr).toInt)),
      key.getBaseObject, key.getBaseOffset, len)
  }

  /** The page goes out as two runs: every record's header words, then
    * every record's row and key words. The headers of like rows are alike,
    * and in one run they compress to almost nothing. Left between the rows
    * of a 50k-row dimension, they took 14% more bytes after LZ4. */
  private def writeTo(out: DataOutput): Unit = {
    out.writeInt(nRows)
    out.writeInt(nIndexed)
    out.writeLong(buildNanos)
    val heads = new Array[Long](nRows * headerWords)
    val bodies = new Array[Long](used - heads.length)
    var a = 0
    var h = 0
    var b = 0
    while (a < used) {
      val n = recordAfter(a) - a - headerWords
      System.arraycopy(page, a, heads, h, headerWords)
      System.arraycopy(page, a + headerWords, bodies, b, n)
      a += headerWords + n
      h += headerWords
      b += n
    }
    writeLongs(out, heads, heads.length)
    writeLongs(out, bodies, bodies.length)
    writeIndex(out)
  }

  private def readFrom(in: DataInput): Unit = {
    nRows = in.readInt()
    nIndexed = in.readInt()
    buildNanos = in.readLong()
    val heads = readLongs(in)
    val bodies = readLongs(in)
    page = new Array[Long](heads.length + bodies.length)
    var a = 0
    var h = 0
    var b = 0
    while (h < heads.length) {
      System.arraycopy(heads, h, page, a, headerWords)
      val n = recordAfter(a) - a - headerWords
      System.arraycopy(bodies, b, page, a + headerWords, n)
      a += headerWords + n
      h += headerWords
      b += n
    }
    used = page.length
    readIndex(in)
  }

  final override def writeExternal(out: ObjectOutput): Unit = writeTo(out)
  final override def readExternal(in: ObjectInput): Unit = readFrom(in)
  final override def write(kryo: Kryo, out: Output): Unit = writeTo(new DataOutputStream(out))
  final override def read(kryo: Kryo, in: Input): Unit = readFrom(new DataInputStream(in))
}

object GraftBuildMap {
  private val FirstPageWords = 512
  private val MaxPageWords = Int.MaxValue - 16L
  private val ChunkBytes = 64 << 10

  private def wordsOf(bytes: Int): Int = (bytes + 7) >>> 3

  /** The first `n` longs of `a`, as their length and raw bytes. */
  private[plans] def writeLongs(out: DataOutput, a: Array[Long], n: Int): Unit = {
    out.writeInt(n)
    writeRaw(out, a, Platform.LONG_ARRAY_OFFSET, 8L * n)
  }

  private[plans] def readLongs(in: DataInput): Array[Long] = {
    val a = new Array[Long](in.readInt())
    readRaw(in, a, Platform.LONG_ARRAY_OFFSET, 8L * a.length)
    a
  }

  /** `a` as its length and the raw bytes of each element's difference
    * from the one before: a direct index over rows appended in key order
    * becomes a constant run, which the broadcast's compression takes to
    * almost nothing (200 KB of addresses to 1 KB for 50k rows). */
  private[plans] def writeInts(out: DataOutput, a: Array[Int]): Unit = {
    val deltas = new Array[Int](a.length)
    var i = a.length - 1
    while (i > 0) { deltas(i) = a(i) - a(i - 1); i -= 1 }
    if (a.nonEmpty) deltas(0) = a(0)
    out.writeInt(a.length)
    writeRaw(out, deltas, Platform.INT_ARRAY_OFFSET, 4L * a.length)
  }

  private[plans] def readInts(in: DataInput): Array[Int] = {
    val a = new Array[Int](in.readInt())
    readRaw(in, a, Platform.INT_ARRAY_OFFSET, 4L * a.length)
    var i = 1
    while (i < a.length) { a(i) += a(i - 1); i += 1 }
    a
  }

  private def writeRaw(out: DataOutput, base: AnyRef, offset: Long, bytes: Long): Unit = {
    val buf = new Array[Byte](math.min(bytes, ChunkBytes).toInt)
    var done = 0L
    while (done < bytes) {
      val n = math.min(bytes - done, buf.length).toInt
      Platform.copyMemory(base, offset + done, buf, Platform.BYTE_ARRAY_OFFSET, n)
      out.write(buf, 0, n)
      done += n
    }
  }

  private def readRaw(in: DataInput, base: AnyRef, offset: Long, bytes: Long): Unit = {
    val buf = new Array[Byte](math.min(bytes, ChunkBytes).toInt)
    var done = 0L
    while (done < bytes) {
      val n = math.min(bytes - done, buf.length).toInt
      in.readFully(buf, 0, n)
      Platform.copyMemory(buf, Platform.BYTE_ARRAY_OFFSET, base, offset + done, n)
      done += n
    }
  }
}

/** Open-addressing build map — the reference's version10 design
  * (reference `src/operator/version10/build_implementation.rs:13-191`,
  * `new_map_3/fixed_table.rs`: open-addressed slot table, probe
  * sequences, generational growth) in its single-writer form: a
  * power-of-two slot array probed linearly, per-key chains through the
  * records. The reference's SIMD group scan and cooperative migration are
  * dropped (one writer, no contention); growth re-probes slots by their
  * stored hash.
  *
  * A slot packs a key's hash (high 32 bits) and the address + 1 of its
  * chain head (low 32 bits; 0 = empty) into one long, so most mismatches
  * are rejected without leaving the slot array. Each record keeps its
  * key's bytes, so the head's key is compared in place, next to the row a
  * match then reads. The map for keys other than one integral column. */
final class GraftOpenMap(keyProj: UnsafeProjection) extends GraftBuildMap(keyProj) {
  def this() = this(null)

  private var slots = new Array[Long](512)
  private var mask = 511
  private var nKeys = 0

  override protected def keyInRecord: Boolean = true

  override def numKeys: Int = nKeys

  override protected def clearIndex(): Unit = {
    nKeys = 0
    java.util.Arrays.fill(slots, 0L)
  }

  override protected def indexBytes: Long = 8L * slots.length

  /** Linear probe: the slot holding `key`'s chain, or the empty slot
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

  /** Generational growth: double the slot table and re-probe every slot
    * by its stored hash (records and chains are untouched). */
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

  /** The new record becomes its key's chain head. */
  override protected def link(key: UnsafeRow, addr: Int): Int = {
    if ((nKeys + 1) * 2 > slots.length) grow()
    val h = key.hashCode
    val s = findSlot(h, key)
    val v = slots(s)
    slots(s) = (h.toLong << 32) | (addr + 1L)
    if (v == 0L) nKeys += 1
    v.toInt - 1
  }

  override def headFor(key: UnsafeRow): Int =
    if (key.anyNull) -1 else slots(findSlot(key.hashCode, key)).toInt - 1

  override protected def writeIndex(out: DataOutput): Unit = {
    out.writeInt(nKeys)
    GraftBuildMap.writeLongs(out, slots, slots.length)
  }

  override protected def readIndex(in: DataInput): Unit = {
    nKeys = in.readInt()
    slots = GraftBuildMap.readLongs(in)
    mask = slots.length - 1
  }
}

/** Build map for one integral key column (the analog of Spark's
  * `LongToUnsafeRowMap`): the key's value, widened to a long, is the key,
  * and the generated probe loop passes that value itself — no key row, no
  * hash of a row. Two index layouts:
  *  - hashed: a slot is a (key, chain head + 1) pair of adjacent longs in
  *    one table (head 0 = empty), probed linearly from the key's Fibonacci
  *    hash, so a lookup usually finds its answer in one cache line;
  *  - direct: when [[finish]] finds the keys' range no longer than the
  *    hashed table, `direct(key - minKey)` holds the chain head + 1 and the
  *    table is dropped, as Spark's dense mode does. A range that
  *    overflows a long is never direct. */
final class GraftLongMap(keyProj: UnsafeProjection, keyType: DataType)
    extends GraftBuildMap(keyProj) {
  def this() = this(null, LongType)

  /** Bytes of the key's type, which say how to read a key row. */
  private var keyWidth = keyType match {
    case LongType | IntegerType | DateType | ShortType | ByteType => keyType.defaultSize
    case t => throw new IllegalArgumentException(s"not an integral key type: $t")
  }

  private var table = new Array[Long](2 * 512)
  private var bits = 9
  private var nKeys = 0
  private var minKey = Long.MaxValue
  private var maxKey = Long.MinValue
  private var direct: Array[Int] = null

  private def read(key: UnsafeRow): Long = keyWidth match {
    case 8 => key.getLong(0)
    case 4 => key.getInt(0).toLong
    case 2 => key.getShort(0).toLong
    case _ => key.getByte(0).toLong
  }

  override protected def keyInRecord: Boolean = false

  override def numKeys: Int = nKeys

  /** Whether [[finish]] chose the direct layout. */
  def isDirect: Boolean = direct != null

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
    minKey = Long.MaxValue
    maxKey = Long.MinValue
    direct = null
    if (table == null) table = new Array[Long](2 << bits)
    else java.util.Arrays.fill(table, 0L)
  }

  override protected def indexBytes: Long =
    if (direct != null) 4L * direct.length else 8L * table.length

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

  override protected def link(key: UnsafeRow, addr: Int): Int = {
    if ((nKeys + 1) * 2 > (1 << bits)) grow()
    val k = read(key)
    val s = slotOf(k)
    val prev = table(2 * s + 1).toInt - 1
    if (prev == -1) {
      table(2 * s) = k
      nKeys += 1
      minKey = math.min(minKey, k)
      maxKey = math.max(maxKey, k)
    }
    table(2 * s + 1) = addr + 1L
    prev
  }

  override protected def finishIndex(): Unit = {
    val range = maxKey - minKey
    if (direct == null && nKeys > 0 && range >= 0 && range < table.length) {
      direct = new Array[Int](range.toInt + 1)
      var i = 0
      while (i < table.length) {
        if (table(i + 1) != 0L) direct((table(i) - minKey).toInt) = table(i + 1).toInt
        i += 2
      }
      table = null
    }
  }

  override def headFor(key: UnsafeRow): Int =
    if (key.anyNull) -1 else headForLong(read(key))

  /** The chain head for a non-null key given as its value: the generated
    * probe loop's lookup, with no key row to build. */
  def headForLong(k: Long): Int =
    if (direct != null) {
      if (k >= minKey && k <= maxKey) direct((k - minKey).toInt) - 1 else -1
    } else table(2 * slotOf(k) + 1).toInt - 1

  override protected def writeIndex(out: DataOutput): Unit = {
    out.writeInt(keyWidth)
    out.writeInt(nKeys)
    out.writeLong(minKey)
    out.writeLong(maxKey)
    out.writeInt(bits)
    out.writeBoolean(direct != null)
    if (direct != null) GraftBuildMap.writeInts(out, direct)
    else GraftBuildMap.writeLongs(out, table, table.length)
  }

  override protected def readIndex(in: DataInput): Unit = {
    keyWidth = in.readInt()
    nKeys = in.readInt()
    minKey = in.readLong()
    maxKey = in.readLong()
    bits = in.readInt()
    if (in.readBoolean()) {
      direct = GraftBuildMap.readInts(in)
      table = null
    } else {
      direct = null
      table = GraftBuildMap.readLongs(in)
    }
  }
}
