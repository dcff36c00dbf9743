package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables.t
import graft.plans.{GraftBuildMap, GraftLongMap, GraftOpenMap, ParallelHashJoinApi,
  ParallelHashJoinExec}

/** The open-addressing build maps (reference version10,
  * reference `src/operator/version10/build_implementation.rs:13-191`):
  * `GraftLongMap` for one integral key column and `GraftOpenMap` for any
  * other key. Each must give the built-in join's results across every
  * join type, through the interpreted and the generated probe loops and
  * both build formulations, including growth well past the initial slot
  * capacity, rows of every size, both `GraftLongMap` layouts, unique and
  * duplicate keys, and a trip through Java and Kryo serialization. */
class OpenMapSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val joinTypes =
    Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def part = t(spark, dir, "part").select(col("p_partkey"), col("p_size"))
    .withColumn("p_str", col("p_partkey").cast("string"))
    .withColumn("p_mod", col("p_partkey") % 3)
  private def li = t(spark, dir, "lineitem")
    .filter(col("l_quantity") >= 40.0)
    .select(col("l_partkey"), col("l_orderkey"))
    .withColumn("l_str", col("l_partkey").cast("string"))
    .withColumn("l_mod", col("l_orderkey") % 3)

  /** (name, part keys, lineitem keys): the int key builds a
    * `GraftLongMap`, the other two a `GraftOpenMap`. */
  private val keyings = Seq(
    ("int key", Seq("p_partkey"), Seq("l_partkey")),
    ("string key", Seq("p_str"), Seq("l_str")),
    ("two-column key", Seq("p_partkey", "p_mod"), Seq("l_partkey", "l_mod")))

  /** The probe loops and build formulations a join can run through. */
  private val paths = Seq(
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    // codegen errors must fail here, not fall back to interpreted
    "codegen" -> Seq("spark.sql.codegen.fallback" -> "false"),
    "codegen, co-partitioned" -> Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  /** The rows of `map` whose key is `key`, each as a copy: the chain from
    * `headFor`, read through one re-pointed row. */
  private def rowsFor(map: GraftBuildMap, key: UnsafeRow, fields: Int): List[UnsafeRow] = {
    val view = new UnsafeRow(fields)
    Iterator.iterate(map.headFor(key))(map.next).takeWhile(_ != -1)
      .map(a => map.pointTo(view, a).copy()).toList
  }

  private def collected(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The join execs of `d`'s final plan (call after `d` has run), each
    * with whether it runs fused inside a whole-stage-codegen stage. */
  private def joinExecs(d: DataFrame): Seq[(ParallelHashJoinExec, Boolean)] = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan, fused: Boolean): Seq[(SparkPlan, Boolean)] = (p, fused) +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: QueryStageExec => Seq(q.plan -> false)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case other => other.children.map(_ -> fused)
    }).flatMap { case (c, f) => walk(c, f) }
    walk(d.queryExecution.executedPlan, fused = false).collect {
      case (e: ParallelHashJoinExec, f) => (e, f)
    }
  }

  test("key types pick the map") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types._
    def picked(types: DataType*): Class[_] = {
      val attrs = types.zipWithIndex.map { case (t, i) => AttributeReference(s"c$i", t)() }
      ParallelHashJoinExec.newBuildMap(attrs, attrs).getClass
    }
    for (t <- Seq(LongType, IntegerType, DateType, ShortType, ByteType)) {
      assert(picked(t) == classOf[GraftLongMap], s"one $t key")
    }
    for (t <- Seq(StringType, DoubleType, DecimalType(10, 2), TimestampType)) {
      assert(picked(t) == classOf[GraftOpenMap], s"one $t key")
    }
    assert(picked(IntegerType, IntegerType) == classOf[GraftOpenMap], "two int keys")
  }

  test("open map matches built-in join results for all join types") {
    for ((keying, pk, lk) <- keyings; jt <- joinTypes) {
      val cond = pk.zip(lk).map { case (a, b) => col(a) === col(b) }.reduce(_ && _)
      val expected = collected(part.join(li, cond, jt))
      for ((path, confs) <- paths) withConf(confs: _*) {
        val d = ParallelHashJoinApi.parallelHashJoin(part, li, pk, lk, jt)
        assert(collected(d) == expected, s"$keying, $path: results for $jt")
        val Seq((_, fused)) = joinExecs(d)
        assert(fused == (path != "interpreted"), s"$keying, $path: fused for $jt")
      }
    }
  }

  test("open map matches under whole-stage codegen (inner)") {
    // the inner join with each map, fused into the probe side's stage
    // (shared build) and into the join's own stage (co-partitioned)
    for ((keying, pk, lk) <- keyings; (path, confs) <- paths.tail) withConf(confs: _*) {
      val cond = pk.zip(lk).map { case (a, b) => col(a) === col(b) }.reduce(_ && _)
      val expected = collected(part.join(li, cond, "inner"))
      val d = ParallelHashJoinApi.parallelHashJoin(part, li, pk, lk, "inner")
      assert(collected(d) == expected, s"$keying, $path")
      val Seq((exec, fused)) = joinExecs(d)
      assert(exec.sharedBuild == (path == "codegen"), s"$keying, $path: formulation")
      assert(fused, s"$keying, $path: expected ParallelHashJoinExec fused into a codegen stage")
    }
  }

  test("null join keys never match through the open map") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LT, nullable = true),
      StructField("v", LT, nullable = false)))
    // local rows, whose size Spark can estimate, so small joins share
    def df(rows: Seq[(java.lang.Long, Long)]) = {
      val d = spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
      d.withColumn("s", col("k").cast(StringType))
    }
    val a = df(Seq((1L: java.lang.Long, 10L), (null, 11L), (2L: java.lang.Long, 12L),
      (1L: java.lang.Long, 13L)))
    val b = df(Seq((1L: java.lang.Long, 20L), (null, 21L), (3L: java.lang.Long, 22L)))
      .withColumnRenamed("k", "k2").withColumnRenamed("v", "v2").withColumnRenamed("s", "s2")
    // a long key reaches GraftLongMap, a string key GraftOpenMap
    for ((ak, bk) <- Seq("k" -> "k2", "s" -> "s2"); jt <- joinTypes) {
      val expected = collected(a.join(b, col(ak) === col(bk), jt))
      for ((path, confs) <- paths) withConf(confs: _*) {
        val got = collected(ParallelHashJoinApi.parallelHashJoin(a, b, Seq(ak), Seq(bk), jt))
        assert(got == expected, s"null-key semantics for $jt on $ak, $path")
      }
    }
  }

  test("growth past the initial capacity keeps every chain intact") {
    // 10k distinct keys forces several generational growths from the
    // 512-slot initial table; 3 rows per key exercises the chains
    val keyProj = UnsafeProjection.create(
      Seq(BoundReference(0, LongType, nullable = false)))
    val rowProj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
      LongType, LongType))
    val map = new GraftOpenMap(keyProj)
    val n = 10000
    for (copy <- 0 until 3; k <- 0 until n) {
      // the projection reuses its row: the map must keep its own copy
      map.append(rowProj(InternalRow(k.toLong, (k * 10 + copy).toLong)))
    }
    assert(map.size == 3 * n)
    val probe = UnsafeProjection.create(
      Seq(BoundReference(0, LongType, nullable = false)))
    map.finish()
    assert(map.numKeys == n && !map.keyIsUnique)
    for (k <- 0 until n) {
      val rows = rowsFor(map, probe(InternalRow(k.toLong)), 2)
      assert(rows.forall(_.getLong(0) == k.toLong))
      assert(rows.map(_.getLong(1)).sorted == List(k * 10L, k * 10L + 1, k * 10L + 2),
        s"chain for key $k")
    }
    // absent key
    assert(map.headFor(probe(InternalRow(-1L))) == -1)
  }

  test("rows of every size survive the row pages") {
    import org.apache.spark.sql.types.{DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // row sizes from a few bytes to several hundred KB, so the page grows
    // many times with rows of odd and even word counts in it
    val sizes = (0 until 400).map(i => (i * 37) % 900) ++ Seq(300 << 10, 5, 700 << 10, 0)
    val keyProj = UnsafeProjection.create(Seq(BoundReference(0, StringType, nullable = false)))
    val rowProj = UnsafeProjection.create(Array[DataType](StringType, StringType))
    def payload(i: Int, n: Int) = UTF8String.fromString(("" + (i % 10)) * n)
    val map = new GraftOpenMap(keyProj)
    for ((n, i) <- sizes.zipWithIndex) {
      map.append(rowProj(InternalRow(UTF8String.fromString(s"k$i"), payload(i, n))))
    }
    map.finish()
    assert(map.keyIsUnique && map.numKeys == sizes.size)
    // the records walk in append order
    val view = new UnsafeRow(2)
    assert(map.addresses.map(a => map.pointTo(view, a).getUTF8String(0).toString).toList ==
      sizes.indices.map(i => s"k$i").toList)
    for ((n, i) <- sizes.zipWithIndex) {
      val Seq(row) = rowsFor(map, keyProj(InternalRow(UTF8String.fromString(s"k$i"))), 2)
      assert(row.getUTF8String(1) == payload(i, n), s"payload of row $i ($n bytes)")
    }
  }

  test("long-key map: extreme and colliding keys, growth, chains, null keys") {
    import org.apache.spark.sql.types.{IntegerType, StructType}
    // keys spread over the whole long range (Fibonacci hashing must not
    // cluster them), 0 and -1 (never confused with an empty slot), and
    // multiples of the table size; 2 rows per key exercise the chains
    val keys = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue) ++
      (1 to 6000).map(_ * 512L) ++ (1 to 6000).map(i => -i * 7919L * 104729L)
    val keyProj = UnsafeProjection.create(
      Seq(BoundReference(0, LongType, nullable = true)))
    val rowProj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
      LongType, LongType))
    val map = new graft.plans.GraftLongMap(keyProj, LongType)
    for (copy <- 0 until 2; (k, i) <- keys.zipWithIndex) {
      map.append(rowProj(InternalRow(k, (i * 10 + copy).toLong)))
    }
    map.append(rowProj(InternalRow(null, 99L)))
    map.finish()
    assert(map.size == 2 * keys.size + 1)
    assert(!map.isDirect, "keys over the whole long range are hashed")
    val probe = UnsafeProjection.create(Seq(BoundReference(0, LongType, nullable = true)))
    for ((k, i) <- keys.zipWithIndex) {
      val rows = rowsFor(map, probe(InternalRow(k)), 2)
      assert(rows.forall(_.getLong(0) == k))
      assert(rows.map(_.getLong(1)).sorted == List(i * 10L, i * 10L + 1), s"chain for key $k")
    }
    assert(map.headFor(probe(InternalRow(12345L))) == -1, "absent key")
    assert(map.headFor(probe(InternalRow(null))) == -1, "null keys never match")
    // narrower integral keys widen to the same table
    val intProj = UnsafeProjection.create(Seq(BoundReference(0, IntegerType, nullable = false)))
    val ints = new graft.plans.GraftLongMap(intProj, IntegerType)
    val intRow = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](IntegerType))
    Seq(Int.MinValue, -1, 0, Int.MaxValue).foreach(v => ints.append(intRow(InternalRow(v))))
    ints.finish()
    Seq(Int.MinValue, -1, 0, Int.MaxValue).foreach { v =>
      assert(ints.pointTo(new UnsafeRow(1), ints.headFor(intProj(InternalRow(v)))).getInt(0) == v)
      assert(ints.headForLong(v.toLong) == ints.headFor(intProj(InternalRow(v))))
    }
  }

  /** A long-keyed map of (key, value) rows, built and finished. */
  private def longMap(rows: Seq[(java.lang.Long, Long)]): GraftLongMap = {
    val keyProj = UnsafeProjection.create(Seq(BoundReference(0, LongType, nullable = true)))
    val rowProj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
      LongType, LongType))
    val map = new GraftLongMap(keyProj, LongType)
    rows.foreach { case (k, v) => map.append(rowProj(InternalRow(k, v))) }
    map.finish()
    map
  }

  /** Every key's values as `map` reads them, through `headForLong`. */
  private def valuesByKey(map: GraftLongMap, keys: Seq[Long]): Map[Long, List[Long]] = {
    val view = new UnsafeRow(2)
    keys.map { k =>
      k -> Iterator.iterate(map.headForLong(k))(map.next).takeWhile(_ != -1)
        .map(a => map.pointTo(view, a).getLong(1)).toList.sorted
    }.toMap
  }

  test("long-key map layouts: direct for a dense range, hashed otherwise, unique or not") {
    def expect(rows: Seq[(java.lang.Long, Long)], probes: Seq[Long]): Map[Long, List[Long]] =
      probes.map(k => k -> rows.collect { case (key, v) if key == k => v }.toList.sorted).toMap
    val n = 5000
    val dense = (0 until n).map(i => (java.lang.Long.valueOf(1000L + i), i.toLong))
    val sparse = (0 until n).map(i => (java.lang.Long.valueOf(i * 1000003L - 7L), i.toLong))
    // Long.MinValue and Long.MaxValue in one build: their range overflows
    // a long, which must read as too wide, not as a small dense range
    val extremes = Seq[(java.lang.Long, Long)]((Long.MinValue, 1L), (Long.MaxValue, 2L),
      (0L, 3L), (-1L, 4L))
    val negativeToZero = Seq[(java.lang.Long, Long)]((Long.MinValue, 1L), (0L, 2L))
    val nulls: Seq[(java.lang.Long, Long)] = Seq((null, 90L), (null, 91L))
    val cases = Seq(
      ("dense unique", dense, true, true),
      ("dense duplicate", dense ++ dense.take(10).map { case (k, v) => (k, v + n) }, true, false),
      ("dense unique with null keys", dense ++ nulls, true, true),
      ("sparse unique", sparse, false, true),
      ("sparse duplicate", sparse ++ sparse.takeRight(3).map { case (k, v) => (k, -v) }, false,
        false),
      ("Long.MinValue with Long.MaxValue", extremes, false, true),
      ("Long.MinValue with 0", negativeToZero, false, true),
      ("one key", Seq[(java.lang.Long, Long)]((42L, 1L), (42L, 2L)), true, false),
      ("no rows", Nil, false, true),
      ("only null keys", nulls, false, true))
    for ((name, rows, direct, unique) <- cases) {
      val map = longMap(rows)
      assert(map.isDirect == direct, s"$name: direct layout")
      assert(map.keyIsUnique == unique, s"$name: keyIsUnique")
      val keys = rows.flatMap(r => Option(r._1)).map(_.longValue).distinct
      assert(map.numKeys == keys.size, s"$name: numKeys")
      assert(map.size == rows.size, s"$name: size")
      // every key, its neighbours just outside the range, and the extremes
      val probes = (keys ++ keys.flatMap(k => Seq(k - 1, k + 1)) ++
        Seq(Long.MinValue, Long.MaxValue, 0L)).distinct
      assert(valuesByKey(map, probes) == expect(rows, probes), s"$name: lookups")
    }
  }

  test("maps survive Java and Kryo serialization") {
    import org.apache.spark.SparkConf
    import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
    import org.apache.spark.sql.types.{DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val n = 3000
    val denseRows = (0 until n).map(i => (java.lang.Long.valueOf(i.toLong), i * 2L)) ++
      Seq[(java.lang.Long, Long)]((7L, -1L), (null, 5L))
    val sparseRows = (0 until n).map(i => (java.lang.Long.valueOf(i * 7919L * 104729L), i * 3L))
    val keyProj = UnsafeProjection.create(Seq(BoundReference(0, StringType, nullable = true)))
    val rowProj = UnsafeProjection.create(Array[DataType](StringType, LongType))
    val open = new GraftOpenMap(keyProj)
    (0 until n).foreach(i => open.append(rowProj(InternalRow(UTF8String.fromString(s"k${i % 997}"),
      i.toLong))))
    open.append(rowProj(InternalRow(null, -1L)))
    open.finish()
    val conf = new SparkConf()
    for (ser <- Seq(new JavaSerializer(conf).newInstance(), new KryoSerializer(conf).newInstance())) {
      val name = ser.getClass.getSimpleName
      for (rows <- Seq(denseRows, sparseRows)) {
        val map = longMap(rows)
        val back = ser.deserialize[GraftLongMap](ser.serialize(map))
        val keys = rows.flatMap(r => Option(r._1)).map(_.longValue) ++ Seq(-3L, n + 5L)
        assert(back.isDirect == map.isDirect && back.size == map.size &&
          back.numKeys == map.numKeys && back.keyIsUnique == map.keyIsUnique, name)
        assert(back.estimatedSize == map.estimatedSize, name)
        assert(valuesByKey(back, keys) == valuesByKey(map, keys), s"$name: lookups")
        assert(back.addresses.toList == map.addresses.toList, s"$name: records")
      }
      val back = ser.deserialize[GraftOpenMap](ser.serialize(open))
      assert(back.size == n + 1 && back.numKeys == 997 && !back.keyIsUnique, name)
      for (k <- 0 until 997) {
        val key = keyProj(InternalRow(UTF8String.fromString(s"k$k")))
        assert(rowsFor(back, key, 2).map(_.getLong(1)).sorted ==
          rowsFor(open, key, 2).map(_.getLong(1)).sorted, s"$name: key k$k")
      }
    }
  }

  test("a 50k-row dimension's map is smaller than its rows") {
    import org.apache.spark.sql.types.{DataType, IntegerType}
    import org.apache.spark.util.SizeEstimator
    // the join benchmark's dimension shape: an int id and a long weight
    val rowProj = UnsafeProjection.create(Array[DataType](IntegerType, LongType))
    val rows = (0 until 50000).map(i => rowProj(InternalRow(i + 1, (i % 100).toLong)).copy())
    val map = ParallelHashJoinExec.newBuildMap(
      Seq(BoundReference(0, IntegerType, nullable = false)), Nil)
    rows.foreach(map.append)
    map.finish()
    assert(map.keyIsUnique && map.isInstanceOf[GraftLongMap] &&
      map.asInstanceOf[GraftLongMap].isDirect)
    val rowsBytes = SizeEstimator.estimate(rows.toArray[InternalRow])
    assert(map.estimatedSize < rowsBytes,
      s"map ${map.estimatedSize} bytes, row array $rowsBytes bytes")
    // the estimate a broadcast's block store charges is the map's own
    assert(SizeEstimator.estimate(map) == map.estimatedSize)
  }
}
