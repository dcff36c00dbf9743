package graft.plans

import scala.collection.mutable

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
  * formulations run the same interpreted and whole-stage-codegen kernels:
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
  * Memory posture (beyond the reference, whose build map is unbounded —
  * `concurrent_self_hash_join_map.rs` grows until OOM): the co-partitioned
  * build buffer is byte-tracked against
  * `spark.graft.parallelHashJoin.buildSpillThreshold`; above it the
  * operator degrades to a chunked "grace" hash join — both sides land in
  * spill-capable row buffers (Spark's SMJ/Window machinery), then the
  * build side is processed one in-memory chunk at a time with the probe
  * side re-scanned per chunk, probe-unmatched tracking deferred to a
  * global pass. Same results for every join type; bounded memory. The
  * shared build is planned only under that same budget.
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

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val buildRowsMetric = longMetric("buildRows")
    val buildChunksMetric = longMetric("buildChunks")
    val buildOutput = left.output
    val probeOutput = right.output
    val buildKeys = leftKeys
    val probeKeys = rightKeys
    val jt = joinType
    val cond = condition
    val outAttrs = output
    val spillThreshold = conf.getConfString(
      ParallelHashJoinExec.spillThresholdKey,
      ParallelHashJoinExec.spillThresholdDefault).toLong
    val buildTimeMetric = longMetric("buildTime")
    if (sharedBuild) {
      val build = left.executeBroadcast[Array[InternalRow]]()
      val keys = sharedBuildKeys
      right.execute().mapPartitions { probeIter =>
        val map = SharedBuildMaps.mapFor(build.value, keys,
          buildRowsMetric, buildChunksMetric, buildTimeMetric)
        ParallelHashJoinExec.joinPartition(
          Iterator.empty, probeIter, buildOutput, probeOutput, buildKeys, probeKeys,
          jt, cond, outAttrs, spillThreshold, probePreserving,
          numOutputRows, buildRowsMetric, buildChunksMetric, buildTimeMetric, map)
      }
    } else {
      left.execute().zipPartitions(right.execute()) { (buildIter, probeIter) =>
        ParallelHashJoinExec.joinPartition(
          buildIter, probeIter, buildOutput, probeOutput, buildKeys, probeKeys,
          jt, cond, outAttrs, spillThreshold, probePreserving,
          numOutputRows, buildRowsMetric, buildChunksMetric, buildTimeMetric)
      }
    }
  }

  // ===== whole-stage codegen (reference O3-O9's codegen'd build/probe
  // variants, realized as Spark codegen instead of Rust monomorphization;
  // the probe loop fuses into the downstream pipeline like Spark's own
  // shuffled-hash join) =====

  /** Every join type fuses into whole-stage codegen. Inner, RightOuter
    * and the probe-preserving semi/anti kernels stream row-at-a-time;
    * the build-side-finalizer types (left outer/semi/anti, full outer)
    * mark a visited bitset during the probe loop and then run a
    * re-entrant finalizer loop over the dense build-row index after the
    * probe input drains — the same produce-loop-then-finalizer shape
    * Spark's own codegen'd full-outer shuffled-hash join uses.
    *
    * The spill guarantee survives fusion: the generated build helper
    * byte-tracks against the budget and, on overrun, routes THAT
    * PARTITION to the interpreted chunked grace join at runtime (the
    * generated produce loop then just drains the fallback iterator).
    * Every other partition keeps the fused fast path — codegen and
    * bounded memory are no longer a config-time either/or. Setting
    * `codegenFallback=false` restores the old static routing: an
    * explicitly configured spill budget then disables fusion outright
    * (and, with no budget set, overruns only warn — the unbounded-build
    * posture of Spark's own codegen'd ShuffledHashJoinExec). */
  override def supportCodegen: Boolean = {
    val enabled =
      conf.getConfString(ParallelHashJoinExec.codegenEnabledKey, "true").toBoolean
    val runtimeFallback =
      conf.getConfString(ParallelHashJoinExec.codegenFallbackKey, "true").toBoolean
    enabled && (runtimeFallback || !conf.contains(ParallelHashJoinExec.spillThresholdKey))
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    if (sharedBuild) right.asInstanceOf[CodegenSupport].inputRDDs()
    else right.execute() :: left.execute() :: Nil

  override def needCopyResult: Boolean = true

  override protected def canCheckLimitNotReached: Boolean = true

  /** Executor-side build for the generated probe loop. Threshold is
    * baked in at codegen time (driver side) because `conf` is not
    * available on executors.
    *
    * On byte-budget overrun with `fallbackEnabled`, the partition
    * DOWNGRADES AT RUNTIME to the interpreted chunked grace join: the
    * rows buffered so far plus the remainder of the build input re-enter
    * [[ParallelHashJoinExec.joinPartition]] (which re-applies the budget
    * and takes its spill path), and the returned iterator carries the
    * complete join result for this partition — the generated produce
    * loop just drains it. Partitions that stay under budget never leave
    * the fused path. */
  def buildOrFallbackForCodegen(
      buildIter: Iterator[InternalRow],
      probeIter: Iterator[InternalRow],
      thresholdBytes: Long,
      fallbackEnabled: Boolean): GraftCodegenBuild = {
    val t0 = System.nanoTime
    val map = ParallelHashJoinExec.newBuildMap(
      leftKeys.map(org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey), left.output)
    var bytes = 0L
    var warned = false
    while (buildIter.hasNext) {
      val row = buildIter.next()
      bytes += (row match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 16L + 8L * left.output.length
      })
      if (bytes > thresholdBytes) {
        if (fallbackEnabled) {
          val rebuilt = Iterator.range(0, map.size).map(map.rowAt) ++
            Iterator.single(row.copy()) ++ buildIter
          val fallback = ParallelHashJoinExec.joinPartition(
            rebuilt, probeIter, left.output, right.output, leftKeys, rightKeys,
            joinType, condition, output, thresholdBytes, probePreserving,
            longMetric("numOutputRows"), longMetric("buildRows"),
            longMetric("buildChunks"), longMetric("buildTime"))
          return new GraftCodegenBuild(null, fallback)
        } else if (!warned) {
          logWarning("parallel hash join build side exceeds " +
            s"$thresholdBytes bytes under codegen with " +
            s"${ParallelHashJoinExec.codegenFallbackKey}=false; growing " +
            "unbounded - re-enable the fallback or disable " +
            s"${ParallelHashJoinExec.codegenEnabledKey} to get the spilling path")
          warned = true
        }
      }
      map.append(row)
    }
    longMetric("buildTime") += System.nanoTime - t0
    longMetric("buildRows") += map.size
    longMetric("buildChunks") += 1
    new GraftCodegenBuild(map, null)
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
    val spillThreshold = conf.getConfString(
      ParallelHashJoinExec.spillThresholdKey,
      ParallelHashJoinExec.spillThresholdDefault).toLong
    val streamedInput = ctx.addMutableState("scala.collection.Iterator",
      "graftStreamedInput", v => s"$v = inputs[0];", forceInline = true)
    val buildInput = ctx.addMutableState("scala.collection.Iterator",
      "graftBuildInput", v => s"$v = inputs[1];", forceInline = true)
    val fallbackEnabled = conf.getConfString(
      ParallelHashJoinExec.codegenFallbackKey, "true").toBoolean
    val buildResTerm = ctx.addMutableState("graft.plans.GraftCodegenBuild",
      "graftBuildRes",
      v => s"$v = $thisPlan.buildOrFallbackForCodegen($buildInput, " +
        s"$streamedInput, ${spillThreshold}L, $fallbackEnabled);",
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

  /** Gate for the whole-stage-codegen inner-join path (`false` falls
    * back to the interpreted, spill-capable doExecute). */
  val codegenEnabledKey = "spark.graft.parallelHashJoin.codegenEnabled"

  /** Runtime spill fallback under codegen (default on): a partition
    * whose build side overruns the byte budget downgrades to the
    * interpreted chunked grace join mid-task while every other
    * partition keeps the fused path. `false` restores the static
    * routing where an explicitly configured budget disables fusion
    * (see [[ParallelHashJoinExec.supportCodegen]]). */
  val codegenFallbackKey = "spark.graft.parallelHashJoin.codegenFallback"

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

  /** One partition's build-then-probe, mirroring the reference's
    * `execute_streaming_join` (`parallel_hash_join_executor.rs:101-121`):
    * fully consume the build side into a hash map, then stream the probe
    * side, then run the unmatched-rows finalizer. Above the byte budget
    * the same contract runs chunk-by-chunk (see class doc). With a
    * `sharedMap` the build is already done: the probe side streams
    * against it, and nothing writes to it. */
  // noinspection ScalaStyle
  private[plans] def joinPartition(
      buildIter: Iterator[InternalRow],
      probeIter: Iterator[InternalRow],
      buildOutput: Seq[Attribute],
      probeOutput: Seq[Attribute],
      buildKeys: Seq[Expression],
      probeKeys: Seq[Expression],
      joinType: JoinType,
      condition: Option[Expression],
      outAttrs: Seq[Attribute],
      spillThresholdBytes: Long,
      probePreserving: Boolean,
      numOutputRows: SQLMetric,
      buildRowsMetric: SQLMetric,
      buildChunksMetric: SQLMetric,
      buildTimeMetric: SQLMetric,
      sharedMap: GraftBuildMap = null): Iterator[InternalRow] = {

    // Normalize float/double keys (-0.0 → 0.0, canonical NaN) exactly as
    // Spark's NormalizeFloatingNumbers does for native joins — our map
    // compares raw UnsafeRow bytes, so un-normalized ±0.0 would fail to
    // match where df.join matches it.
    val normBuildKeys = buildKeys.map(
      org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey)
    val normProbeKeys = probeKeys.map(
      org.apache.spark.sql.classic.GraftSqlBridge.normalizeFloatingKey)
    val probeKeyProj = UnsafeProjection.create(normProbeKeys, probeOutput)
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
      case LeftSemi | LeftAnti if probePreserving =>
        UnsafeProjection.create(outAttrs, probeOutput)
      case LeftSemi | LeftAnti => UnsafeProjection.create(outAttrs, buildOutput)
      case _ => UnsafeProjection.create(outAttrs, joinedOutput)
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

    val chain: GraftBuildMap =
      if (sharedMap != null) sharedMap else newBuildMap(normBuildKeys, buildOutput)
    val trackBuildMatches = joinType match {
      case LeftSemi | LeftAnti if probePreserving => false
      case LeftOuter | FullOuter | LeftSemi | LeftAnti => true
      case _ => false
    }
    val nullBuildRow = new GenericInternalRow(buildOutput.length)
    val nullProbeRow = new GenericInternalRow(probeOutput.length)
    val joined = new JoinedRow

    // --- build phase: one pass, rows buffered, non-null keys indexed,
    // bytes tracked against the spill budget ---
    val toUnsafeBuild = UnsafeProjection.create(buildOutput.map(_.dataType).toArray)
    def asUnsafe(r: InternalRow, proj: UnsafeProjection): UnsafeRow = r match {
      case u: UnsafeRow => u
      case other => proj(other)
    }
    val buildStart = System.nanoTime
    var buildBytes = 0L
    var buildStore: GraftSpillableRowBuffer = null
    while (buildIter.hasNext && buildStore == null) {
      val row = buildIter.next()
      buildBytes += (row match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 16L + 8L * buildOutput.length
      })
      if (buildBytes > spillThresholdBytes) {
        // over budget: migrate what's buffered into a spill-capable store
        // and keep consuming there — the chunked path takes over below
        buildStore = new GraftSpillableRowBuffer()
        var i = 0
        while (i < chain.size) {
          buildStore.add(asUnsafe(chain.rowAt(i), toUnsafeBuild))
          i += 1
        }
        chain.clear()
        buildStore.add(asUnsafe(row, toUnsafeBuild))
      } else {
        chain.append(row)
      }
    }
    if (buildStore != null) {
      while (buildIter.hasNext) buildStore.add(asUnsafe(buildIter.next(), toUnsafeBuild))
      buildRowsMetric += buildStore.length
    } else if (sharedMap == null) {
      buildRowsMetric += chain.size
    }
    if (sharedMap == null) buildTimeMetric += System.nanoTime - buildStart

    /** Unmatched/matched build-row emitters shared by both paths; the
      * bitset covers exactly the rows currently resident in `chain`. */
    def buildFinisher(matched: java.util.BitSet): Iterator[InternalRow] = joinType match {
      case LeftSemi | LeftAnti if probePreserving => Iterator.empty
      case LeftOuter | FullOuter =>
        Iterator.range(0, chain.size).filter(i => !matched.get(i)).map { i =>
          numOutputRows += 1
          resultProj(joined(chain.rowAt(i), nullProbeRow))
        }
      case LeftSemi =>
        Iterator.range(0, chain.size).filter(matched.get).map { i =>
          numOutputRows += 1
          resultProj(chain.rowAt(i))
        }
      case LeftAnti =>
        Iterator.range(0, chain.size).filter(i => !matched.get(i)).map { i =>
          numOutputRows += 1
          resultProj(chain.rowAt(i))
        }
      case _ => Iterator.empty
    }

    if (buildStore == null) {
      // ===== fast path: whole build side resident in one build map =====
      if (sharedMap == null) buildChunksMetric += 1
      val matched = if (trackBuildMatches) new java.util.BitSet(chain.size) else null

      // --- probe phase: streamed ---
      // Inner: fully lazy, zero-copy (projection rows are consumed before
      // the next element is produced — standard SparkPlan iterator
      // contract). Semi/anti: allocation-free marking pass, no output.
      // Outer paths buffer per-probe-row matches (they must know whether
      // any match survived the condition before padding), so they copy.
      val probePhase: Iterator[InternalRow] = joinType match {
        case Inner | LeftOuter =>
          // fully lazy, zero-copy; LeftOuter additionally marks matched
          // build rows for the finalizer (unmatched PROBE rows are never
          // emitted for these types, so no per-probe buffering is needed)
          val markMatches = joinType == LeftOuter
          new Iterator[InternalRow] {
            private var probeRow: InternalRow = _
            private var cursor: Int = -1
            private var pending = false

            private def advance(): Boolean = {
              while (true) {
                while (cursor != -1) {
                  val idx = cursor
                  cursor = chain.next(idx)
                  joined(chain.rowAt(idx), probeRow)
                  if (boundCondition(joined)) {
                    if (markMatches) matched.set(idx)
                    return true
                  }
                }
                if (!probeIter.hasNext) return false
                probeRow = probeIter.next()
                cursor = chain.headFor(probeKeyProj(probeRow))
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
        case LeftSemi | LeftAnti if probePreserving =>
          // probe-preserving semi/anti (reference right_semi.rs /
          // right_anti.rs): stream probe rows, emit on first surviving
          // match (semi) / on none (anti) — no bitset, no finalizer
          val emitOnMatch = joinType == LeftSemi
          new Iterator[InternalRow] {
            private var pendingRow: InternalRow = _
            private def advance(): InternalRow = {
              while (probeIter.hasNext) {
                val probeRow = probeIter.next()
                var cursor = chain.headFor(probeKeyProj(probeRow))
                var found = false
                while (cursor != -1 && !found) {
                  joined(chain.rowAt(cursor), probeRow)
                  if (boundCondition(joined)) found = true
                  cursor = chain.next(cursor)
                }
                if (found == emitOnMatch) return probeRow
              }
              null
            }
            override def hasNext: Boolean =
              pendingRow != null || { pendingRow = advance(); pendingRow != null }
            override def next(): InternalRow = {
              if (!hasNext) throw new NoSuchElementException
              val r = pendingRow
              pendingRow = null
              numOutputRows += 1
              resultProj(r)
            }
          }
        case LeftSemi | LeftAnti =>
          // marking pass only; emits nothing (finalizer emits build rows)
          new Iterator[InternalRow] {
            override def hasNext: Boolean = {
              while (probeIter.hasNext) {
                val probeRow = probeIter.next()
                var cursor = chain.headFor(probeKeyProj(probeRow))
                while (cursor != -1) {
                  joined(chain.rowAt(cursor), probeRow)
                  if (boundCondition(joined)) matched.set(cursor)
                  cursor = chain.next(cursor)
                }
              }
              false
            }
            override def next(): InternalRow = throw new NoSuchElementException
          }
        case _ => // RightOuter, FullOuter: must know "any match?" per probe
          // row before padding, hence the per-row buffer + copies
          probeIter.flatMap { probeRow =>
            var cursor = chain.headFor(probeKeyProj(probeRow))
            var anyMatch = false
            val out = new mutable.ArrayBuffer[InternalRow](4)
            while (cursor != -1) {
              joined(chain.rowAt(cursor), probeRow)
              if (boundCondition(joined)) {
                anyMatch = true
                if (matched != null) matched.set(cursor)
                numOutputRows += 1
                out += resultProj(joined).copy()
              }
              cursor = chain.next(cursor)
            }
            if (!anyMatch) {
              numOutputRows += 1
              out += resultProj(joined(nullBuildRow, probeRow)).copy()
            }
            out
          }
      }

      // --- finalizer: unmatched build rows (runs once probe is drained),
      // the per-partition analog of the reference's last-owner finalizer ---
      probePhase ++ buildFinisher(matched)
    } else {
      // ===== chunked fallback ("grace" hash join) =====
      // Build side exceeds the byte budget: process it one chunk at a
      // time, re-scanning the (spill-buffered) probe side per chunk.
      // Build-row match state is chunk-local (chunks are disjoint);
      // probe-row match state spans chunks, so RightOuter/FullOuter
      // padding runs in one global pass at the end.
      val toUnsafeProbe = UnsafeProjection.create(probeOutput.map(_.dataType).toArray)
      val probeStore = new GraftSpillableRowBuffer()
      while (probeIter.hasNext) probeStore.add(asUnsafe(probeIter.next(), toUnsafeProbe))

      val probeMatched = joinType match {
        case RightOuter | FullOuter => new java.util.BitSet(probeStore.length)
        case LeftSemi | LeftAnti if probePreserving =>
          new java.util.BitSet(probeStore.length)
        case _ => null
      }
      val buildStoreIter = buildStore.iterator
      var chunkMatched: java.util.BitSet = null

      def loadChunk(): Boolean = {
        if (!buildStoreIter.hasNext) return false
        chain.clear()
        var chunkBytes = 0L
        while (buildStoreIter.hasNext && chunkBytes < spillThresholdBytes) {
          val r = buildStoreIter.next()
          chunkBytes += r.getSizeInBytes
          chain.append(r)
        }
        chunkMatched = if (trackBuildMatches) new java.util.BitSet(chain.size) else null
        buildChunksMetric += 1
        true
      }

      def probeChunk(): Iterator[InternalRow] = joinType match {
        case LeftSemi | LeftAnti if probePreserving =>
          // mark probe rows with a surviving match; the global pass
          // emits them by bit (semi: set, anti: unset)
          new Iterator[InternalRow] {
            private val pIter = probeStore.iterator
            private var pIdx = -1
            override def hasNext: Boolean = {
              while (pIter.hasNext) {
                val probeRow = pIter.next()
                pIdx += 1
                if (!probeMatched.get(pIdx)) {
                  var cursor = chain.headFor(probeKeyProj(probeRow))
                  var found = false
                  while (cursor != -1 && !found) {
                    joined(chain.rowAt(cursor), probeRow)
                    if (boundCondition(joined)) found = true
                    cursor = chain.next(cursor)
                  }
                  if (found) probeMatched.set(pIdx)
                }
              }
              false
            }
            override def next(): InternalRow = throw new NoSuchElementException
          }
        case LeftSemi | LeftAnti =>
          // marking pass only, as in the fast path
          new Iterator[InternalRow] {
            private val pIter = probeStore.iterator
            override def hasNext: Boolean = {
              while (pIter.hasNext) {
                val probeRow = pIter.next()
                var cursor = chain.headFor(probeKeyProj(probeRow))
                while (cursor != -1) {
                  joined(chain.rowAt(cursor), probeRow)
                  if (boundCondition(joined)) chunkMatched.set(cursor)
                  cursor = chain.next(cursor)
                }
              }
              false
            }
            override def next(): InternalRow = throw new NoSuchElementException
          }
        case _ =>
          // Inner/LeftOuter/RightOuter/FullOuter all emit matches lazily;
          // probe padding is deferred to the global pass, so unlike the
          // fast path RightOuter/FullOuter need no per-row buffering here.
          val markBuild = trackBuildMatches
          new Iterator[InternalRow] {
            private val pIter = probeStore.iterator
            private var pIdx = -1
            private var probeRow: InternalRow = _
            private var cursor: Int = -1
            private var pending = false

            private def advance(): Boolean = {
              while (true) {
                while (cursor != -1) {
                  val idx = cursor
                  cursor = chain.next(idx)
                  joined(chain.rowAt(idx), probeRow)
                  if (boundCondition(joined)) {
                    if (markBuild) chunkMatched.set(idx)
                    if (probeMatched != null) probeMatched.set(pIdx)
                    return true
                  }
                }
                if (!pIter.hasNext) return false
                probeRow = pIter.next()
                pIdx += 1
                cursor = chain.headFor(probeKeyProj(probeRow))
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
      }

      def globalFinisher(): Iterator[InternalRow] = joinType match {
        case LeftSemi | LeftAnti if probePreserving =>
          val emitOnMatch = joinType == LeftSemi
          val pIter = probeStore.iterator
          var pIdx = -1
          pIter.filter { _ =>
            pIdx += 1; probeMatched.get(pIdx) == emitOnMatch
          }.map { probeRow =>
            numOutputRows += 1
            resultProj(probeRow)
          }
        case RightOuter | FullOuter =>
          val pIter = probeStore.iterator
          var pIdx = -1
          pIter.filter { _ => pIdx += 1; !probeMatched.get(pIdx) }.map { probeRow =>
            numOutputRows += 1
            resultProj(joined(nullBuildRow, probeRow))
          }
        case _ => Iterator.empty
      }

      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        private var globalDone = false

        @annotation.tailrec
        override def hasNext: Boolean =
          cur.hasNext || {
            if (globalDone) false
            else if (loadChunk()) {
              // chunkFinisher is evaluated lazily, after the probe pass
              // has populated chunkMatched (Iterator.++ is by-name)
              cur = probeChunk() ++ buildFinisher(chunkMatched)
              hasNext
            } else {
              globalDone = true
              cur = globalFinisher()
              cur.hasNext
            }
          }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          cur.next()
        }
      }
    }
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
