package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{Graph, SimilaritySearch}

/** Round-11 verdict #5: stage-attributed solo profile of the composed
  * semantic-dedup pipeline (`v11_embedding_dedup`) above oracle scale —
  * does the composition inherit the int8 pairwise arm's scaling?
  * Phases are run separately so each one's shuffle bytes and wall time
  * attribute cleanly (the composed query fuses them; the per-phase
  * re-run of the kernel is the price of attribution, stated on the
  * artifact):
  *
  *   1. candidates — the certified int8 blocked kernel alone
  *   2. pairwise+verify — candidates + broadcast float verify (the
  *      production cosineNearDupPairs path)
  *   3. closure — min-label propagation over the pair graph
  *   4. final — survivor join back over the full corpus
  *
  *   runMain graft.tools.V11Profile [sfDir] [threshold]
  */
object V11Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val threshold = if (args.length > 1) args(1).toDouble else 0.45
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same hook as Verify/Bench: `k=v;k=v` session settings
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })

    val stageBytes = new ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null)
          stageBytes.put(sc.stageInfo.stageId, m.shuffleWriteMetrics.bytesWritten)
      }
    })
    var seen = Set.empty[Int]
    def drain(label: String): Long = {
      var quiet = 0; var lastCount = -1; var waited = 0
      while (quiet < 3 && waited < 60) {
        Thread.sleep(500); waited += 1
        val c = stageBytes.size()
        if (c == lastCount) quiet += 1 else { quiet = 0; lastCount = c }
      }
      val fresh = {
        val it = stageBytes.entrySet().iterator()
        val b = Seq.newBuilder[(Int, Long)]
        while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
        b.result().filterNot(e => seen.contains(e._1))
      }
      seen ++= fresh.map(_._1)
      val total = fresh.map(_._2).sum
      println(f"[v11] $label shuffle write: ${total / 1e6}%.1f MB over ${fresh.size} stages")
      total
    }
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[v11] $name: $s%.1f s")
      (r, s)
    }

    val emb = Tables.t(spark, dir, "embeddings")
    val n = emb.count()
    println(s"[v11] dir=$dir vectors=$n threshold=$threshold")
    drain("warmup")

    val (nCand, tCand) = timed("candidates (certified int8 kernel)")(
      SimilaritySearch.certifiedCandidatePairs(
        emb, "vec_id", "embedding", threshold, numBlocks = 8).count())
    val bCand = drain("candidates")

    val pairsDf = SimilaritySearch.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold, numBlocks = 8)
      .select(col("idA"), col("idB")).persist()
    val (nPairs, tPairs) = timed("pairwise+verify")(pairsDf.count())
    val bPairs = drain("pairwise+verify")

    // connectedComponents is EAGER (one action per propagation round), so the
    // construction call itself is the closure's wall time — time the call
    // plus the final count together, or the rounds attribute to nothing.
    val ((comps, nComp), tComp) = timed("closure (components)") {
      val c = Graph.connectedComponents(pairsDf, "idA", "idB", maxIters = 20)
      (c, c.count())
    }
    val bComp = drain("closure")

    val (nOut, tFinal) = timed("final join")(
      emb.select(col("vec_id"))
        .join(comps.select(col("id").as("lid"), col("componentId").as("comp")),
          col("vec_id") === col("lid"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("vec_id")).as("comp_id"))
        .count())
    val bFinal = drain("final")
    pairsDf.unpersist(blocking = false)

    println(f"""[v11] {"vectors":$n,"threshold":$threshold,"candidates":$nCand,""" +
      f""""pairs":$nPairs,"component_rows":$nComp,"out_rows":$nOut,""" +
      f""""cand_sec":$tCand%.1f,"pair_sec":$tPairs%.1f,"closure_sec":$tComp%.1f,"final_sec":$tFinal%.1f,""" +
      f""""cand_mb":${bCand / 1e6}%.1f,"pair_mb":${bPairs / 1e6}%.1f,""" +
      f""""closure_mb":${bComp / 1e6}%.1f,"final_mb":${bFinal / 1e6}%.1f}""")
    spark.stop()
  }
}
