package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, GraftSpillableRowBuffer, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType}

/** Physical shared-build hash join.
  *
  * Faithful-in-semantics, Spark-native-in-architecture rebuild of the
  * reference's operator (`/root/reference/src/operator/
  * parallel_hash_join.rs:17-168` + probe implementations), where all
  * partitions build ONE hash map together and every probe partition then
  * streams against it where it already is. Two build formulations carry
  * that over to Spark; the planner ([[ParallelHashJoinStrategy]]) picks
  * one per join from plan statistics and the join type:
  *
  *  - **Shared build** (`sharedBuild = true`), the reference's own shape.
  *    The build child requires a [[BroadcastDistribution]] through
  *    [[SharedBuildMode]], so its rows reach every executor once; each
  *    executor builds the map from them once, lazily and thread-safely
  *    ([[SharedBuildMaps]]), and every probe task reads that same map.
  *    The probe child keeps its own partitioning, with no exchange. Only
  *    join types whose build rows are never emitted can share — inner,
  *    right outer and the probe-preserving semi/anti kernels — and only
  *    when the build side's estimated size is within
  *    `min(spark.sql.autoBroadcastJoinThreshold,
  *    spark.graft.parallelHashJoin.buildSpillThreshold)`: the shared map
  *    has no spill path.
  *  - **Co-partitioned build**, for everything else: left outer, full
  *    outer, the build-preserving semi/anti, and builds over the bound.
  *    Both sides are hash-partitioned on the join keys
  *    ([[ClusteredDistribution]]; EnsureRequirements inserts the
  *    exchanges), then each task builds its slice of the map and streams
  *    its probe slice against it — same build-then-probe barrier, same
  *    per-key co-location, bounded per task. Its unmatched-build-row
  *    finalizers are per partition, which is correct because the shuffle
  *    makes partitions key-disjoint.
  *
  * Join-type mechanics mirror the reference's probe kernels, and both
  * formulations run the same kernels:
  *  - hash lookup, then real key equality (collision guard), then the
  *    residual non-equi `condition`
  *    (`probe_lookup_implementation/inner.rs:79-129`)
  *  - build-side visited bitset + post-probe finalizer emitting
  *    unmatched build rows for outer/semi/anti
  *    (`probe_lookup_implementation/full.rs:160-201`,
  *    `concurrent_bit_set.rs`) — co-partitioned only.
  *  - NULL keys never match (`use_parallel_hash_join_rule.rs:87-89`),
  *    but null-keyed build rows still surface as unmatched in
  *    outer/anti results.
  *
  * One route runs every join: the whole-stage-codegen probe loop, whose
  * co-partitioned build falls back at runtime to the interpreted chunk
  * kernel of [[joinPartition]] when it overruns its byte budget. The
  * same interpreted kernel runs from `doExecute` wherever Spark does not
  * fuse the exec (`spark.sql.codegen.wholeStage=false`, or a generated
  * stage that failed to compile).
  *
  * Memory posture (beyond the reference, whose build map is unbounded —
  * `concurrent_self_hash_join_map.rs` grows until OOM): the co-partitioned
  * build is byte-tracked against
  * `spark.graft.parallelHashJoin.buildSpillThreshold`; above it the
  * operator degrades to a chunked "grace" hash join — both sides land in
  * spill-capable row buffers (Spark's SMJ/Window machinery), then the
  * build side is processed one in-memory chunk at a time with the probe
  * side re-scanned per chunk, probe-row matches carried from chunk to
  * chunk. Same results for every join type; bounded memory. The shared
  * build is planned only under that same budget.
  */
case class ParallelHashJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    joinType: JoinType,
    condition: Option[Expression],
    left: SparkPlan,
    right: SparkPlan,
    probePreserving: Boolean = false,
    sharedBuild: Boolean = false) extends BinaryExecNode with CodegenSupport {

  require(!sharedBuild || ParallelHashJoinExec.canShareBuild(joinType, probePreserving),
    s"a shared build cannot serve $joinType (probePreserving=$probePreserving)")

  /** A shared build is counted where its map is built — once per
    * executor, not once per probe task. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build side rows"),
    "buildChunks" -> SQLMetrics.createMetric(sparkContext, "build chunks (>1 = spill fallback)"),
    "buildTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time to build hash map"))

  override def output: Seq[Attribute] =
    ParallelHashJoin.outputFor(joinType, left.output, right.output, probePreserving)

  /** Shared build: the build rows go to every executor, the probe side
    * stays where it is. Co-partitioned: both sides clustered on the join
    * keys. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (sharedBuild) {
      BroadcastDistribution(SharedBuildMode(sharedBuildKeys)) :: UnspecifiedDistribution :: Nil
    } else {
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
    }

  /** The shared build's map keys, bound to the build output. */
  private def sharedBuildKeys: Seq[Expression] = BindReferences.bindReferences(
    leftKeys.map(org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey),
    AttributeSeq(left.output))

  /** Report surviving partitioning so no redundant exchange follows
    * (SURVEY.md §7 "What's hard": the reference instead re-runs
    * EnforceDistribution after claiming RoundRobin). A shared build emits
    * rows only where its probe rows already are. */
  override def outputPartitioning: Partitioning = joinType match {
    case _ if sharedBuild => right.outputPartitioning
    case Inner => PartitioningCollection(Seq(left.outputPartitioning, right.outputPartitioning))
    case LeftSemi | LeftAnti if probePreserving => right.outputPartitioning
    case LeftOuter | LeftSemi | LeftAnti => left.outputPartitioning
    case RightOuter => right.outputPartitioning
    case FullOuter => UnknownPartitioning(left.outputPartitioning.numPartitions)
    case t => throw new IllegalArgumentException(s"unsupported join type $t")
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ParallelHashJoinExec =
    copy(left = newLeft, right = newRight)

  /** The per-partition build byte budget, read on the driver: the
    * executors have no session conf. */
  private def spillThreshold: Long = conf.getConfString(
    ParallelHashJoinExec.spillThresholdKey, ParallelHashJoinExec.spillThresholdDefault).toLong

  /** The map of a co-partitioned build, empty. */
  private def newPartitionMap(): GraftBuildMap = ParallelHashJoinExec.newBuildMap(
    leftKeys.map(org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey), left.output)

  protected override def doExecute(): RDD[InternalRow] = {
    val thresholdBytes = spillThreshold
    // the tasks call back into this plan: make its metrics before it ships
    longMetric("numOutputRows")
    if (sharedBuild) {
      val build = left.executeBroadcast[Array[InternalRow]]()
      right.execute().mapPartitions { probeIter =>
        joinPartition(sharedBuildMap(build), null, probeIter, thresholdBytes)
      }
    } else {
      left.execute().zipPartitions(right.execute()) { (buildIter, probeIter) =>
        val map = newPartitionMap()
        joinPartition(map, buildPartition(buildIter, map, thresholdBytes), probeIter,
          thresholdBytes)
      }
    }
  }

  /** One partition's co-partitioned build: its rows go into `map` while
    * their bytes fit `thresholdBytes`. The first row over the budget
    * moves every row read so far into a spill-capable buffer, which takes
    * the rest; that buffer is returned, and `map` is left empty for
    * [[joinPartition]] to load chunk by chunk. Null when every row is in
    * `map`. */
  private def buildPartition(buildIter: Iterator[InternalRow], map: GraftBuildMap,
      thresholdBytes: Long): GraftSpillableRowBuffer = {
    val start = System.nanoTime
    val genericRowBytes = 16L + 8L * left.output.length
    var bytes = 0L
    var spilled: GraftSpillableRowBuffer = null
    lazy val toUnsafe = UnsafeProjection.create(left.output.map(_.dataType).toArray)
    def spill(row: InternalRow): Unit = spilled.add(row match {
      case u: UnsafeRow => u
      case other => toUnsafe(other)
    })
    while (buildIter.hasNext && spilled == null) {
      val row = buildIter.next()
      bytes += (row match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => genericRowBytes
      })
      if (bytes <= thresholdBytes) map.append(row)
      else {
        spilled = new GraftSpillableRowBuffer()
        (0 until map.size).foreach(i => spill(map.rowAt(i)))
        map.clear()
        spill(row)
      }
    }
    if (spilled != null) buildIter.foreach(spill)
    longMetric("buildTime") += System.nanoTime - start
    if (spilled == null) {
      longMetric("buildRows") += map.size
      longMetric("buildChunks") += 1
    } else {
      longMetric("buildRows") += spilled.length
    }
    spilled
  }

  /** One partition's probe, mirroring the reference's
    * `execute_streaming_join` (`parallel_hash_join_executor.rs:101-121`):
    * stream the probe side against the build map, then emit the build
    * rows the join type keeps. The build is probed one chunk at a time:
    * all of `buildMap` as the only chunk, or, when `spilled` holds the
    * build rows, chunks of them that fit `thresholdBytes`, loaded into
    * `buildMap` in turn, with the probe side buffered and scanned once
    * per chunk. Build-row matches are per chunk, since chunks are disjoint.
    * Probe-row matches are carried from chunk to chunk in a bitset, and
    * the last chunk pads (right/full outer) or emits (probe-preserving
    * semi/anti) probe rows by it; with one chunk there is nothing to
    * carry and the probe rows stream. */
  private def joinPartition(
      buildMap: GraftBuildMap,
      spilled: GraftSpillableRowBuffer,
      probeIter: Iterator[InternalRow],
      thresholdBytes: Long): Iterator[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val buildOutput = left.output
    val probeOutput = right.output
    // Normalize float/double keys (-0.0 → 0.0, canonical NaN) exactly as
    // Spark's NormalizeFloatingNumbers does for native joins — our map
    // compares raw UnsafeRow bytes, so un-normalized ±0.0 would fail to
    // match where df.join matches it.
    val probeKeyProj = UnsafeProjection.create(
      rightKeys.map(org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey),
      probeOutput)
    // Null-padding makes the padded side's columns nullable even when the
    // child schema says otherwise — the output projection MUST bind
    // against nullability-adjusted attributes, or codegen elides the
    // null check and reads 0 from the all-null pad row.
    val buildOutForRead = joinType match {
      case RightOuter | FullOuter => buildOutput.map(_.withNullability(true))
      case _ => buildOutput
    }
    val probeOutForRead = joinType match {
      case LeftOuter | FullOuter => probeOutput.map(_.withNullability(true))
      case _ => probeOutput
    }
    val joinedOutput = buildOutForRead ++ probeOutForRead
    val resultProj: UnsafeProjection = joinType match {
      case LeftSemi | LeftAnti if probePreserving => UnsafeProjection.create(output, probeOutput)
      case LeftSemi | LeftAnti => UnsafeProjection.create(output, buildOutput)
      case _ => UnsafeProjection.create(output, joinedOutput)
    }
    val boundCondition: InternalRow => Boolean = condition match {
      case Some(c) =>
        val pred = Predicate.create(c, joinedOutput)
        // partition-aware init so nondeterministic conditions (rand())
        // draw independent streams per partition, as native joins do
        pred.initialize(Option(org.apache.spark.TaskContext.get())
          .map(_.partitionId()).getOrElse(0))
        pred.eval _
      case None => (_: InternalRow) => true
    }
    val joined = new JoinedRow
    val nullBuildRow = new GenericInternalRow(buildOutput.length)
    val nullProbeRow = new GenericInternalRow(probeOutput.length)

    // the join type's decisions, made once
    val marksBuild = joinType match {
      case LeftOuter | FullOuter => true
      case LeftSemi | LeftAnti => !probePreserving
      case _ => false
    }
    val padsProbe = joinType == RightOuter || joinType == FullOuter
    val emitOnMatch = joinType == LeftSemi
    val padsBuild = joinType == LeftOuter || joinType == FullOuter

    /** Inner and outer joins: each build row whose key matches and whose
      * condition holds streams out joined to its probe row, marked in
      * `buildMatched` (left/full outer). A probe row with no match is
      * padded on the last chunk (right/full outer) unless `carried` says
      * an earlier chunk matched it; an earlier chunk records its matches
      * in `carried`. Lazy and zero-copy: each output row is consumed
      * before the next is made (the SparkPlan iterator contract). */
    def joinedRows(probe: Iterator[InternalRow], last: Boolean, carried: java.util.BitSet,
        buildMatched: java.util.BitSet): Iterator[InternalRow] = new Iterator[InternalRow] {
      private var probeRow: InternalRow = _
      private var pIdx = -1
      private var cursor = -1
      private var found = false
      private var pending = false

      private def advance(): Boolean = {
        while (true) {
          while (cursor != -1) {
            val idx = cursor
            cursor = buildMap.next(idx)
            joined(buildMap.rowAt(idx), probeRow)
            if (boundCondition(joined)) {
              if (buildMatched != null) buildMatched.set(idx)
              found = true
              return true
            }
          }
          if (padsProbe && probeRow != null) {
            val row = probeRow
            probeRow = null
            if (found) {
              if (carried != null) carried.set(pIdx)
            } else if (last && (carried == null || !carried.get(pIdx))) {
              joined(nullBuildRow, row)
              return true
            }
          }
          if (!probe.hasNext) return false
          probeRow = probe.next()
          pIdx += 1
          found = false
          cursor = buildMap.headFor(probeKeyProj(probeRow))
        }
        false
      }

      override def hasNext: Boolean = pending || { pending = advance(); pending }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        pending = false
        numOutputRows += 1
        resultProj(joined)
      }
    }

    /** Does a build row with `probeRow`'s key pass the condition? */
    def anyMatch(probeRow: InternalRow): Boolean = {
      var cursor = buildMap.headFor(probeKeyProj(probeRow))
      while (cursor != -1) {
        joined(buildMap.rowAt(cursor), probeRow)
        if (boundCondition(joined)) return true
        cursor = buildMap.next(cursor)
      }
      false
    }

    /** Probe-preserving semi/anti (reference right_semi.rs /
      * right_anti.rs): a probe row is matched when this chunk or, per
      * `carried`, an earlier one holds a build row with its key that
      * passes the condition. The last chunk emits the matched (semi) or
      * unmatched (anti) probe rows; an earlier one records its matches in
      * `carried`. */
    def probeRows(probe: Iterator[InternalRow], last: Boolean,
        carried: java.util.BitSet): Iterator[InternalRow] = {
      var pIdx = -1
      probe.filter { probeRow =>
        pIdx += 1
        val matched = (carried != null && carried.get(pIdx)) || anyMatch(probeRow)
        if (!last && matched) carried.set(pIdx)
        last && matched == emitOnMatch
      }.map { probeRow =>
        numOutputRows += 1
        resultProj(probeRow)
      }
    }

    /** Build-preserving semi/anti: marks the build rows whose key matches
      * a probe row and whose condition holds; emits nothing itself. */
    def markBuildRows(probe: Iterator[InternalRow],
        buildMatched: java.util.BitSet): Iterator[InternalRow] = new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        probe.foreach { probeRow =>
          var cursor = buildMap.headFor(probeKeyProj(probeRow))
          while (cursor != -1) {
            if (!buildMatched.get(cursor)) {
              joined(buildMap.rowAt(cursor), probeRow)
              if (boundCondition(joined)) buildMatched.set(cursor)
            }
            cursor = buildMap.next(cursor)
          }
        }
        false
      }
      override def next(): InternalRow = throw new NoSuchElementException
    }

    /** The chunk now in `buildMap` (the per-chunk analog of the reference's
      * last-owner finalizer): its probe kernel, then the build rows it
      * keeps — unmatched ones null-padded (left/full outer), matched
      * (semi) or unmatched (anti) ones as they are. */
    def probeChunk(probe: Iterator[InternalRow], last: Boolean,
        carried: java.util.BitSet): Iterator[InternalRow] = {
      val buildMatched = if (marksBuild) new java.util.BitSet(buildMap.size) else null
      val probed = joinType match {
        case LeftSemi | LeftAnti if probePreserving => probeRows(probe, last, carried)
        case LeftSemi | LeftAnti => markBuildRows(probe, buildMatched)
        case _ => joinedRows(probe, last, carried, buildMatched)
      }
      val kept =
        if (buildMatched == null) Iterator.empty
        else Iterator.range(0, buildMap.size).filter(buildMatched.get(_) == emitOnMatch).map { i =>
          numOutputRows += 1
          if (padsBuild) resultProj(joined(buildMap.rowAt(i), nullProbeRow))
          else resultProj(buildMap.rowAt(i))
        }
      probed ++ kept
    }

    if (spilled == null) probeChunk(probeIter, last = true, carried = null)
    else {
      val probeStore = new GraftSpillableRowBuffer()
      val toUnsafeProbe = UnsafeProjection.create(probeOutput.map(_.dataType).toArray)
      probeIter.foreach {
        case u: UnsafeRow => probeStore.add(u)
        case other => probeStore.add(toUnsafeProbe(other))
      }
      val carried =
        if (padsProbe || probePreserving) new java.util.BitSet(probeStore.length) else null
      val buildRows = spilled.iterator
      new Iterator[Iterator[InternalRow]] {
        override def hasNext: Boolean = buildRows.hasNext
        override def next(): Iterator[InternalRow] = {
          buildMap.clear()
          var bytes = 0L
          while (buildRows.hasNext && bytes < thresholdBytes) {
            val row = buildRows.next()
            bytes += row.getSizeInBytes
            buildMap.append(row)
          }
          longMetric("buildChunks") += 1
          probeChunk(probeStore.iterator, last = !buildRows.hasNext, carried)
        }
      }.flatten
    }
  }

  // ===== whole-stage codegen (reference O3-O9's codegen'd build/probe
  // variants, realized as Spark codegen instead of Rust monomorphization;
  // the probe loop fuses into the downstream pipeline like Spark's own
  // shuffled-hash join). Every join type fuses. Inner, RightOuter and
  // the probe-preserving semi/anti kernels stream row-at-a-time; the
  // build-side-finalizer types (left outer/semi/anti, full outer) mark a
  // visited bitset during the probe loop and then run a re-entrant
  // finalizer loop over the dense build-row index after the probe input
  // drains — the same produce-loop-then-finalizer shape Spark's own
  // codegen'd full-outer shuffled-hash join uses. =====

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    if (sharedBuild) right.asInstanceOf[CodegenSupport].inputRDDs()
    else right.execute() :: left.execute() :: Nil

  override def needCopyResult: Boolean = true

  override protected def canCheckLimitNotReached: Boolean = true

  /** Executor-side co-partitioned build for the generated probe loop,
    * through the same byte-tracked loop as `doExecute`. The budget is
    * baked in at codegen time, on the driver.
    *
    * On a budget overrun the partition DOWNGRADES AT RUNTIME to the
    * interpreted chunk kernel: the returned fallback iterator carries the
    * complete join result for this partition, and the generated produce
    * loop just drains it. Partitions that stay under budget never leave
    * the fused path, so codegen and bounded memory are not an either/or. */
  def buildOrFallbackForCodegen(
      buildIter: Iterator[InternalRow],
      probeIter: Iterator[InternalRow],
      thresholdBytes: Long): GraftCodegenBuild = {
    val map = newPartitionMap()
    val spilled = buildPartition(buildIter, map, thresholdBytes)
    if (spilled == null) new GraftCodegenBuild(map, null)
    else new GraftCodegenBuild(null, joinPartition(map, spilled, probeIter, thresholdBytes))
  }

  /** Executor-side map of a shared build for the generated probe loop
    * (see [[SharedBuildMaps]]). */
  def sharedBuildMap(build: Broadcast[Array[InternalRow]]): GraftBuildMap =
    SharedBuildMaps.mapFor(build.value, sharedBuildKeys,
      longMetric("buildRows"), longMetric("buildChunks"), longMetric("buildTime"))

  /** Shared build: the probe child produces and this join consumes, as
    * Spark's broadcast hash join does, so the probe pipeline fuses into
    * the same stage. Co-partitioned: this join drives its own loop over
    * the two exchanged inputs. */
  override protected def doProduce(ctx: CodegenContext): String =
    if (sharedBuild) right.asInstanceOf[CodegenSupport].produce(ctx, this)
    else produceCoPartitioned(ctx)

  /** One streamed probe row of a shared build: the same kernels as the
    * co-partitioned loop, over the broadcast build's map. */
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val thisPlan = ctx.addReferenceObj("plan", this)
    val build = ctx.addReferenceObj("sharedBuild",
      left.executeBroadcast[Array[InternalRow]](), classOf[Broadcast[_]].getName)
    val mapTerm = ctx.addMutableState("graft.plans.GraftBuildMap", "graftSharedMap",
      v => s"$v = $thisPlan.sharedBuildMap($build);", forceInline = true)
    s"""
       |${evaluateVariables(input)}
       |${probeKernel(ctx, input, mapTerm, visitedTerm = "")}
     """.stripMargin
  }

  private def produceCoPartitioned(ctx: CodegenContext): String = {
    val thisPlan = ctx.addReferenceObj("plan", this)
    val streamedInput = ctx.addMutableState("scala.collection.Iterator",
      "graftStreamedInput", v => s"$v = inputs[0];", forceInline = true)
    val buildInput = ctx.addMutableState("scala.collection.Iterator",
      "graftBuildInput", v => s"$v = inputs[1];", forceInline = true)
    val buildResTerm = ctx.addMutableState("graft.plans.GraftCodegenBuild",
      "graftBuildRes",
      v => s"$v = $thisPlan.buildOrFallbackForCodegen($buildInput, " +
        s"$streamedInput, ${spillThreshold}L);",
      forceInline = true)
    val mapTerm = ctx.addMutableState("graft.plans.GraftBuildMap", "graftBuildMap",
      v => s"$v = $buildResTerm.map();", forceInline = true)
    val fbTerm = ctx.addMutableState("scala.collection.Iterator", "graftFallbackIter",
      v => s"$v = $buildResTerm.fallback();", forceInline = true)

    // evaluate the streamed (probe) columns from the input row
    val streamedRow = ctx.freshName("graftStreamedRow")
    ctx.INPUT_ROW = streamedRow
    ctx.currentVars = null
    val streamVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val streamEval = evaluateVariables(streamVars)

    // Build-finalizer machinery (left outer/semi/anti, full outer):
    // a visited bit per dense build-row index, marked in the probe
    // loop, plus a re-entrant cursor for the post-probe emit loop.
    val needsFinalizer = joinType match {
      case LeftSemi | LeftAnti if probePreserving => false
      case LeftOuter | FullOuter | LeftSemi | LeftAnti => true
      case _ => false
    }
    val visitedTerm = if (needsFinalizer)
      ctx.addMutableState("java.util.BitSet", "graftVisited",
        v => s"$v = new java.util.BitSet();", forceInline = true)
    else ""
    val finIdxTerm = if (needsFinalizer)
      ctx.addMutableState(org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.JAVA_INT,
        "graftFinIdx", v => s"$v = 0;", forceInline = true)
    else ""
    val numOutput = metricTerm(ctx, "numOutputRows")
    val body = probeKernel(ctx, streamVars, mapTerm, visitedTerm)

    // Post-probe finalizer: walk the dense build-row index and emit the
    // rows the probe loop marked (semi) or left unmarked (outer/anti),
    // null-padding the probe side for the outer types. Re-entrant: the
    // cursor is codegen mutable state, so processNext re-entry after a
    // full output batch resumes exactly where it stopped.
    val finalizer = if (!needsFinalizer) "" else {
      val finRow = ctx.freshName("graftFinRow")
      val (finVars, finEval) = buildVarsFor(ctx, finRow)
      val emitTerm = ctx.freshName("graftEmit")
      val emitCond = joinType match {
        case LeftSemi => s"$visitedTerm.get($finIdxTerm)"
        case _ => s"!$visitedTerm.get($finIdxTerm)"
      }
      val finConsume = joinType match {
        case LeftSemi | LeftAnti => consume(ctx, finVars)
        case _ =>
          val nullProbe = right.output.map(a => ExprCode.forNullValue(a.dataType))
          consume(ctx, finVars ++ nullProbe)
      }
      s"""
         |while ($limitNotReachedCond $finIdxTerm < $mapTerm.size()) {
         |  boolean $emitTerm = $emitCond;
         |  InternalRow $finRow = $mapTerm.rowAt($finIdxTerm);
         |  $finIdxTerm++;
         |  if ($emitTerm) {
         |    $finEval
         |    $numOutput.add(1);
         |    $finConsume
         |  }
         |  if (shouldStop()) return;
         |}
       """.stripMargin
    }

    // Runtime-fallback drain: when the build helper detected a budget
    // overrun it returned the interpreted grace join's result iterator
    // instead of a map — output rows are complete join rows, consumed
    // row-wise (joinPartition already counted them in numOutputRows).
    val fbRow = ctx.freshName("graftFbRow")
    ctx.INPUT_ROW = fbRow
    ctx.currentVars = null
    val fbConsume = consume(ctx, null, fbRow)
    s"""
       |if ($fbTerm != null) {
       |  while ($limitNotReachedCond $fbTerm.hasNext()) {
       |    InternalRow $fbRow = (InternalRow) $fbTerm.next();
       |    $fbConsume
       |    if (shouldStop()) return;
       |  }
       |} else {
       |  while ($limitNotReachedCond $streamedInput.hasNext()) {
       |    InternalRow $streamedRow = (InternalRow) $streamedInput.next();
       |    $streamEval
       |    $body
       |    if (shouldStop()) return;
       |  }
       |  $finalizer
       |}
     """.stripMargin
  }

  /** Build-side column ExprCodes bound to `row` (fresh scope). */
  private def buildVarsFor(ctx: CodegenContext, row: String): (Seq[ExprCode], String) = {
    ctx.INPUT_ROW = row
    ctx.currentVars = null
    val vars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    (vars, evaluateVariables(vars))
  }

  /** The probe kernel for one streamed row whose (already evaluated)
    * columns are `streamVars`, against the build map `mapTerm`.
    * `visitedTerm` is the build-row bitset of the finalizer types. */
  private def probeKernel(ctx: CodegenContext, streamVars: Seq[ExprCode],
      mapTerm: String, visitedTerm: String): String = {
    // The probe key (same float normalization as the map) and its
    // lookup: one integral key is read as a long, as a `GraftLongMap`
    // indexes it; any other key is an UnsafeRow.
    ctx.currentVars = streamVars
    val keyExprs = rightKeys
      .map(org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey)
      .map(BindReferences.bindReference(_, right.output))
    val (keyCode, keyNull, lookup) =
      if (ParallelHashJoinExec.longKeyed(keyExprs)) {
        val ev = keyExprs.head.genCode(ctx)
        (ev.code.toString, ev.isNull.toString,
          s"((graft.plans.GraftLongMap) $mapTerm).headForLong((long) ${ev.value})")
      } else {
        val ev = GenerateUnsafeProjection.createCode(ctx, keyExprs)
        (ev.code.toString, s"${ev.value}.anyNull()", s"$mapTerm.headFor(${ev.value})")
      }

    val numOutput = metricTerm(ctx, "numOutputRows")
    val idxTerm = ctx.freshName("graftIdx")
    val buildRow = ctx.freshName("graftBuildRow")

    /** Residual-condition guard over `buildVars ++ streamVars`:
      * (open, close) code wrapping the emit/mark site. The hash lookup
      * already guarantees key equality via UnsafeRow equals. */
    def condGuard(buildVars: Seq[ExprCode]): (String, String) =
      condition.map { c =>
        ctx.currentVars = buildVars ++ streamVars
        ctx.INPUT_ROW = null
        val bound = BindReferences.bindReference(c, AttributeSeq(left.output ++ right.output))
        val ev = bound.genCode(ctx)
        (s"""
            |${ev.code}
            |if (!${ev.isNull} && ${ev.value}) {""".stripMargin, "}")
      }.getOrElse(("", ""))

    /** Null-guarded build vars for pad-capable loops: `row` may be the
      * Java literal null, in which case every column reads as NULL
      * (Spark's codegenOuter shape). */
    def paddedBuildVarsFor(row: String): (Seq[ExprCode], String) = {
      ctx.INPUT_ROW = row
      ctx.currentVars = null
      val vars = left.output.zipWithIndex.map { case (a, i) =>
        val ev = BoundReference(i, a.dataType, a.nullable).genCode(ctx)
        val isNull = ctx.freshName("graftIsNull")
        val value = ctx.freshName("graftValue")
        import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        val javaType = CodeGenerator.javaType(a.dataType)
        val newCode =
          s"""
             |boolean $isNull = true;
             |$javaType $value = ${CodeGenerator.defaultValue(a.dataType)};
             |if ($row != null) {
             |  ${ev.code}
             |  $isNull = ${ev.isNull};
             |  $value = ${ev.value};
             |}
           """.stripMargin
        import org.apache.spark.sql.catalyst.expressions.codegen.{Block, JavaCode}
        import Block._
        ExprCode(code"$newCode",
          JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
      }
      (vars, evaluateVariables(vars))
    }

    /** Residual condition as a boolean `passed` var for pad-capable
      * loops: a null build row (the pad iteration) always passes. */
    def condPassed(buildVars: Seq[ExprCode], row: String, passed: String): String =
      condition.map { c =>
        ctx.currentVars = buildVars ++ streamVars
        ctx.INPUT_ROW = null
        val bound = BindReferences.bindReference(c, AttributeSeq(left.output ++ right.output))
        val ev = bound.genCode(ctx)
        s"""
           |boolean $passed = true;
           |if ($row != null) {
           |  ${ev.code}
           |  $passed = !${ev.isNull} && ${ev.value};
           |}
         """.stripMargin
      }.getOrElse(s"boolean $passed = true;")

    joinType match {
      case Inner | LeftOuter =>
        // inner-style emit of surviving matches; LeftOuter additionally
        // marks visited build rows so the finalizer below can pad the
        // unmatched remainder
        val (buildVars, buildEval) = buildVarsFor(ctx, buildRow)
        val (condOpen, condClose) = condGuard(buildVars)
        val curIdx = ctx.freshName("graftCurIdx")
        val mark = if (joinType == LeftOuter) s"$visitedTerm.set($curIdx);" else ""
        val consumeCode = consume(ctx, buildVars ++ streamVars)
        s"""
           |$keyCode
           |if (!$keyNull) {
           |  int $idxTerm = $lookup;
           |  while ($idxTerm != -1) {
           |    int $curIdx = $idxTerm;
           |    InternalRow $buildRow = $mapTerm.rowAt($idxTerm);
           |    $idxTerm = $mapTerm.next($idxTerm);
           |    $buildEval
           |    $condOpen
           |    $mark
           |    $numOutput.add(1);
           |    $consumeCode
           |    $condClose
           |  }
           |}
         """.stripMargin

      case RightOuter | FullOuter =>
        // Spark's codegenOuter shape: the loop's final iteration emits
        // the null-padded row when no match survived the condition.
        // FullOuter additionally marks visited build rows for the
        // finalizer below.
        val (buildVars, buildEval) = paddedBuildVarsFor(buildRow)
        val passed = ctx.freshName("graftPassed")
        val condEval = condPassed(buildVars, buildRow, passed)
        val found = ctx.freshName("graftFound")
        val curIdx = ctx.freshName("graftCurIdx")
        val mark = if (joinType == FullOuter)
          s"if ($curIdx != -1) $visitedTerm.set($curIdx);" else ""
        val consumeCode = consume(ctx, buildVars ++ streamVars)
        s"""
           |$keyCode
           |int $idxTerm = $keyNull ? -1 : $lookup;
           |boolean $found = false;
           |// last iteration pads with nulls when no match survived
           |while ($idxTerm != -1 || !$found) {
           |  int $curIdx = $idxTerm;
           |  InternalRow $buildRow = $idxTerm != -1 ? $mapTerm.rowAt($idxTerm) : null;
           |  if ($idxTerm != -1) $idxTerm = $mapTerm.next($idxTerm);
           |  $buildEval
           |  $condEval
           |  if ($passed) {
           |    $found = true;
           |    $mark
           |    $numOutput.add(1);
           |    $consumeCode
           |  }
           |}
         """.stripMargin

      case LeftSemi | LeftAnti if probePreserving =>
        // probe-preserving semi/anti: stream probe rows; the build side
        // is only touched to find one surviving match
        val (buildVars, buildEval) = buildVarsFor(ctx, buildRow)
        val (condOpen, condClose) = condGuard(buildVars)
        val found = ctx.freshName("graftFound")
        val emitWhen = if (joinType == LeftSemi) found else s"!$found"
        val consumeCode = consume(ctx, streamVars)
        s"""
           |$keyCode
           |boolean $found = false;
           |if (!$keyNull) {
           |  int $idxTerm = $lookup;
           |  while ($idxTerm != -1 && !$found) {
           |    InternalRow $buildRow = $mapTerm.rowAt($idxTerm);
           |    $idxTerm = $mapTerm.next($idxTerm);
           |    $buildEval
           |    $condOpen
           |    $found = true;
           |    $condClose
           |  }
           |}
           |if ($emitWhen) {
           |  $numOutput.add(1);
           |  $consumeCode
           |}
         """.stripMargin

      case LeftSemi | LeftAnti =>
        // build-preserving semi/anti: the probe loop only MARKS build
        // rows whose residual survives (skipping already-visited ones);
        // all emission happens in the finalizer loop below
        val (buildVars, buildEval) = buildVarsFor(ctx, buildRow)
        val (condOpen, condClose) = condGuard(buildVars)
        val curIdx = ctx.freshName("graftCurIdx")
        s"""
           |$keyCode
           |if (!$keyNull) {
           |  int $idxTerm = $lookup;
           |  while ($idxTerm != -1) {
           |    int $curIdx = $idxTerm;
           |    InternalRow $buildRow = $mapTerm.rowAt($idxTerm);
           |    $idxTerm = $mapTerm.next($idxTerm);
           |    if (!$visitedTerm.get($curIdx)) {
           |      $buildEval
           |      $condOpen
           |      $visitedTerm.set($curIdx);
           |      $condClose
           |    }
           |  }
           |}
         """.stripMargin

      case t => throw new IllegalStateException(s"codegen unsupported for $t")
    }
  }
}

/** Result of the codegen build phase: exactly one of `map` (under
  * budget — fused probe loop proceeds) or `fallback` (over budget — the
  * complete interpreted grace-join result for this partition) is
  * non-null. Plain class with Java-callable accessors because the
  * generated code references it directly. */
final class GraftCodegenBuild(
    val map: GraftBuildMap,
    val fallback: Iterator[InternalRow])

object ParallelHashJoinExec {

  /** Per-partition build-side byte budget before the chunked spill
    * fallback engages. 256 MB default: at 32 shuffle partitions that
    * bounds resident build state well under executor memory, and at
    * cluster scale the budget is per-task regardless of input size. */
  val spillThresholdKey = "spark.graft.parallelHashJoin.buildSpillThreshold"
  val spillThresholdDefault: String = (256L * 1024 * 1024).toString

  /** An empty build map over `keys`, which read rows of `buildOutput`:
    * the compact open-addressing tables of the reference's version10
    * shape, picked by key type — `GraftLongMap` for one integral key
    * column, `GraftOpenMap` otherwise. On 50k build rows and 1.2M
    * int-key probes, one thread, the boxed `HashMap[UnsafeRow, Integer]`
    * chain map these replaced took 0.70-1.16 s, `GraftOpenMap`
    * 0.26-0.65 s and `GraftLongMap` 0.22-0.34 s. On the join benchmark's
    * timed pass (10 rotating seeds, shared build), `GraftOpenMap` alone
    * took 9% less than the chain map, and `GraftLongMap` 16% less again. */
  private[graft] def newBuildMap(keys: Seq[Expression],
      buildOutput: Seq[Attribute]): GraftBuildMap = {
    val keyProj = UnsafeProjection.create(keys, buildOutput)
    if (longKeyed(keys)) new GraftLongMap(keyProj, keys.head.dataType)
    else new GraftOpenMap(keyProj)
  }

  /** One integral key column: what a `GraftLongMap` indexes. */
  private[plans] def longKeyed(keys: Seq[Expression]): Boolean =
    keys.size == 1 &&
      Seq(LongType, IntegerType, DateType, ShortType, ByteType).contains(keys.head.dataType)

  /** Join types whose build rows are never emitted, so one build map can
    * serve every probe partition: no per-partition visited bitset, no
    * finalizer. */
  def canShareBuild(joinType: JoinType, probePreserving: Boolean): Boolean = joinType match {
    case Inner | RightOuter => true
    case LeftSemi | LeftAnti => probePreserving
    case _ => false
  }
}

/** Broadcast mode of the shared build: the build rows as they are, as
  * for Spark's `IdentityBroadcastMode`. It carries the build keys (bound
  * to the build output) that the executors' maps index the rows by, so
  * that two joins over one build input with different keys never reuse
  * one broadcast. */
case class SharedBuildMode(keys: Seq[Expression]) extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] = rows

  override def transform(
      rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] = rows.toArray

  override def canonicalized: BroadcastMode = SharedBuildMode(keys.map(_.canonicalized))
}

/** Each executor's maps of its shared builds, one per broadcast value:
  * made by the first probe task that asks, read by every task that asks
  * while another still holds it. Both sides are held weakly — the value
  * array as the key, the map by the tasks that use it — because Spark
  * keeps a broadcast value until the plan that made it is collected,
  * often long after its query ends: on the join benchmark, maps held as
  * long as their values kept 30-45 MB more heap after some runs. A map
  * dropped while its value lives is built again; its build time counts
  * again, its build rows and chunks are counted once per value. */
private[plans] object SharedBuildMaps {
  private val maps =
    new java.util.WeakHashMap[Array[InternalRow], java.lang.ref.WeakReference[GraftBuildMap]]()

  /** The map over `rows`; the task that builds it records the build in
    * the given metrics. */
  def mapFor(rows: Array[InternalRow], keys: Seq[Expression],
      buildRows: SQLMetric, buildChunks: SQLMetric, buildTime: SQLMetric): GraftBuildMap =
    rows.synchronized {
      val held = maps.synchronized(maps.get(rows))
      val cached = if (held == null) null else held.get
      if (cached != null) cached
      else {
        val start = System.nanoTime
        val map = ParallelHashJoinExec.newBuildMap(keys, Nil)
        rows.foreach(map.append)
        buildTime += System.nanoTime - start
        if (held == null) {
          buildRows += map.size
          buildChunks += 1
        }
        maps.synchronized(maps.put(rows, new java.lang.ref.WeakReference(map)))
        map
      }
    }
}
