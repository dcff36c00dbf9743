package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilaritySearch

/** Golden fingerprints of every PQ shape's outputs on a seeded corpus
  * with dirty rows (a duplicate id, a zero vector, a NaN vector) and
  * dirty batch rows (zero, NULL, empty and NaN vectors, and a corpus id
  * arriving again with another vector). For each of the six
  * shapes — {no rotation, Hadamard, trained OPQ} × {direct, IVF
  * residual} — and for the one-word (m=4, ksub=8) and the wide
  * (m=8, ksub=256, two code words) layouts, the spec hashes the
  * encoded codes and the outputs of single-query top-k, batch top-k,
  * the chunked batch driver, incremental near-dup, ingest encode,
  * append-then-serve and save→load→serve. The values were recorded on
  * the six per-shape index types the one [[SimilaritySearch.PqIndex]]
  * replaced; the codec reproduces them bit for bit, including on the
  * append, encode, chunked and wide paths no oracle query checks. */
class PqCodecSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 16

  private def vec(id: Long): Array[Float] = {
    val r = new scala.util.Random(id * 2654435761L)
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
  }
  private def jitter(v: Array[Float], eps: Float): Array[Float] =
    v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
  private def nanVec(id: Long): Array[Float] = {
    val v = vec(id); v(3) = Float.NaN; v
  }

  /** md5 of the frame's rows, rendered exactly and sorted (doubles
    * print their shortest round-tripping form, so equal strings mean
    * bit-equal values). */
  private def fp(df: DataFrame): String = {
    val rows = df.collect().map { r =>
      r.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case null => "null"
        case x => x.toString
      }.mkString("|")
    }.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** One shape's operations, bound to a built index. */
  private trait Ops {
    def encoded: DataFrame
    def topK(q: Array[Float]): DataFrame
    def batch(qs: DataFrame): DataFrame
    def chunked(qs: DataFrame): DataFrame
    def incremental(b: DataFrame): DataFrame
    def encode(b: DataFrame): DataFrame
    def appendTopK(b: DataFrame, q: Array[Float]): DataFrame
    def saveLoad(dir: String, corpus: DataFrame): Ops
  }

  private val nprobe = 3

  private def ops(i: SimilaritySearch.PqIndex): Ops = new Ops {
    def encoded = i.encoded
    def topK(q: Array[Float]) =
      SimilaritySearch.pqTopK(i, q, topK = 5, overFetch = 4, nprobe = nprobe)
    def batch(qs: DataFrame) = SimilaritySearch.pqTopKBatch(
      i, qs, "q_id", "qv", topK = 5, overFetch = 4, nprobe = nprobe)
    def chunked(qs: DataFrame) = SimilaritySearch.pqTopKBatchChunked(
      i, qs, "q_id", "qv", topK = 5, overFetch = 4, nprobe = nprobe, chunkTarget = 2)
    def incremental(b: DataFrame) = SimilaritySearch.pqIncrementalNearDup(
      i, b, threshold = 0.9, margin = 0.6, nprobe = nprobe)
    def encode(b: DataFrame) = SimilaritySearch.pqEncode(i, b)
    def appendTopK(b: DataFrame, q: Array[Float]) = SimilaritySearch.pqTopK(
      SimilaritySearch.pqAppend(i, b), q, topK = 5, overFetch = 4, nprobe = nprobe)
    def saveLoad(dir: String, corpus: DataFrame) = {
      SimilaritySearch.pqSave(i, dir)
      ops(SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some(i.kind)))
    }
  }

  private val layouts = Seq("word" -> (4, 8), "wide" -> (8, 256))

  /** The index of `shape` — its `kind` string names the rotation and
    * whether it encodes IVF residuals. */
  private def build(
      shape: String, corpus: DataFrame, ivf: SimilaritySearch.IvfIndex,
      m: Int, ksub: Int): Ops = {
    val rotation =
      if (shape.startsWith("rot-")) "hadamard"
      else if (shape.startsWith("opq-")) "opq" else "none"
    val (lloydIters, opqIters) = if (rotation == "opq") (1, 2) else (2, 3)
    val index =
      if (shape.endsWith("residual-pq"))
        SimilaritySearch.residualPqBuild(ivf, m = m, ksub = ksub,
          lloydIters = lloydIters, rotation = rotation, opqIters = opqIters)
      else
        SimilaritySearch.pqBuild(corpus, "id", "v", m = m, ksub = ksub,
          lloydIters = lloydIters, rotation = rotation, opqIters = opqIters)
    assert(index.kind == shape)
    ops(index)
  }

  private val shapes = Seq("pq", "rot-pq", "opq-pq", "residual-pq",
    "rot-residual-pq", "opq-residual-pq")

  private def fingerprints(shape: String): Seq[(String, String)] = {
    val sp = spark
    import sp.implicits._
    val rows: Seq[(Long, Array[Float])] =
      (1L to 160L).map(i => (i, vec(i * 37 + 5))) ++ Seq(
        (7L, vec(7L * 37 + 5)),    // duplicate id, same vector
        (500L, new Array[Float](dim)), // zero vector
        (501L, nanVec(501L)))      // NaN component
    val corpus = rows.toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val queries = Seq[(Long, Array[Float])](
      (901L, vec(901L)), (902L, jitter(vec(17L * 37 + 5), 0.01f)),
      (903L, vec(903L)), (904L, new Array[Float](dim)), (905L, null),
      (906L, Array.empty[Float]), (907L, nanVec(907L))).toDF("q_id", "qv")
    val ingest = Seq[(Long, Array[Float])](
      (601L, jitter(vec(17L * 37 + 5), 0.001f)), (602L, vec(987654L)),
      (603L, new Array[Float](dim)), (604L, null), (605L, Array.empty[Float]),
      (606L, nanVec(606L)),
      (9L, vec(4242L))).toDF("id", "v") // a corpus id with another vector
    val q = jitter(vec(23L * 37 + 5), 0.01f)
    layouts.flatMap { case (layout, (m, ksub)) =>
      val ops = build(shape, corpus, ivf, m, ksub)
      val dir = java.nio.file.Files.createTempDirectory("pqcodec").toString
      val key = s"$shape/$layout"
      try {
        val loaded = ops.saveLoad(dir, corpus)
        Seq(
          s"$key/encoded" -> fp(ops.encoded),
          s"$key/topk" -> fp(ops.topK(q)),
          s"$key/topk-zero" -> fp(ops.topK(new Array[Float](dim))),
          s"$key/topk-nan" -> fp(ops.topK(nanVec(77L))),
          s"$key/batch" -> fp(ops.batch(queries)),
          s"$key/chunked" -> fp(ops.chunked(queries)),
          s"$key/incremental" -> fp(ops.incremental(ingest)),
          s"$key/encode" -> fp(ops.encode(ingest)),
          s"$key/append-topk" -> fp(ops.appendTopK(ingest, jitter(vec(987654L), 0.01f))),
          s"$key/loaded-encoded" -> fp(loaded.encoded),
          s"$key/loaded-topk" -> fp(loaded.topK(q)),
          s"$key/loaded-batch" -> fp(loaded.batch(queries)))
      } finally rmTree(dir)
    }
  }

  private val golden: Map[String, String] = Map(
    "opq-pq/wide/append-topk" -> "f3d016a8f6f49b07b502f4114b119736",
    "opq-pq/wide/batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "opq-pq/wide/chunked" -> "4001549b540bd65e0c75e7bdbf00985d",
    "opq-pq/wide/encode" -> "bbc2c864d24c65388edaf5fa660758e0",
    "opq-pq/wide/encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "opq-pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "opq-pq/wide/loaded-batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "opq-pq/wide/loaded-encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "opq-pq/wide/loaded-topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "opq-pq/wide/topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "opq-pq/wide/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "opq-pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "opq-pq/word/append-topk" -> "c631ee3fc4043a1ca5983aafcda3041d",
    "opq-pq/word/batch" -> "48c8a701e680db3981d2f62bacbba077",
    "opq-pq/word/chunked" -> "48c8a701e680db3981d2f62bacbba077",
    "opq-pq/word/encode" -> "cf10207c441ad82542922e0d3216ae34",
    "opq-pq/word/encoded" -> "6c193b00ef122c56826e0740b965abdc",
    "opq-pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "opq-pq/word/loaded-batch" -> "48c8a701e680db3981d2f62bacbba077",
    "opq-pq/word/loaded-encoded" -> "6c193b00ef122c56826e0740b965abdc",
    "opq-pq/word/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "opq-pq/word/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "opq-pq/word/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "opq-pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "opq-residual-pq/wide/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "opq-residual-pq/wide/batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "opq-residual-pq/wide/chunked" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "opq-residual-pq/wide/encode" -> "e520e73df6c8162b87e4b242e1c33100",
    "opq-residual-pq/wide/encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "opq-residual-pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "opq-residual-pq/wide/loaded-batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "opq-residual-pq/wide/loaded-encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "opq-residual-pq/wide/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "opq-residual-pq/wide/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "opq-residual-pq/wide/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "opq-residual-pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "opq-residual-pq/word/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "opq-residual-pq/word/batch" -> "faf83959e4442a52f6a02d1e8da0319c",
    "opq-residual-pq/word/chunked" -> "faf83959e4442a52f6a02d1e8da0319c",
    "opq-residual-pq/word/encode" -> "895a6b48cd5f348d5fc4249302d224a5",
    "opq-residual-pq/word/encoded" -> "b8b06d8d4ca46f66542dc7286a5eb17d",
    "opq-residual-pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "opq-residual-pq/word/loaded-batch" -> "faf83959e4442a52f6a02d1e8da0319c",
    "opq-residual-pq/word/loaded-encoded" -> "b8b06d8d4ca46f66542dc7286a5eb17d",
    "opq-residual-pq/word/loaded-topk" -> "3c939baa4782554c6b6193b1a01f30dd",
    "opq-residual-pq/word/topk" -> "3c939baa4782554c6b6193b1a01f30dd",
    "opq-residual-pq/word/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "opq-residual-pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "pq/wide/append-topk" -> "f3d016a8f6f49b07b502f4114b119736",
    "pq/wide/batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "pq/wide/chunked" -> "4001549b540bd65e0c75e7bdbf00985d",
    "pq/wide/encode" -> "ad52c7ffe81445d2907a1588217264c3",
    "pq/wide/encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "pq/wide/loaded-batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "pq/wide/loaded-encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "pq/wide/loaded-topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "pq/wide/topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "pq/wide/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "pq/word/append-topk" -> "f3d016a8f6f49b07b502f4114b119736",
    "pq/word/batch" -> "d399aee5657251072fd48f8fea3ed2ab",
    "pq/word/chunked" -> "d399aee5657251072fd48f8fea3ed2ab",
    "pq/word/encode" -> "f6e8de2b442ae1a6801cc78f305af080",
    "pq/word/encoded" -> "ead1b5c5d2f4a46324524ca80724f5ef",
    "pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "pq/word/loaded-batch" -> "d399aee5657251072fd48f8fea3ed2ab",
    "pq/word/loaded-encoded" -> "ead1b5c5d2f4a46324524ca80724f5ef",
    "pq/word/loaded-topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "pq/word/topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "pq/word/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "residual-pq/wide/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "residual-pq/wide/batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "residual-pq/wide/chunked" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "residual-pq/wide/encode" -> "71c766b8f27d8739c49c15868aa98af7",
    "residual-pq/wide/encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "residual-pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "residual-pq/wide/loaded-batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "residual-pq/wide/loaded-encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "residual-pq/wide/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "residual-pq/wide/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "residual-pq/wide/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "residual-pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "residual-pq/word/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "residual-pq/word/batch" -> "fc7696e18144096bd2cac25a2fbcb526",
    "residual-pq/word/chunked" -> "fc7696e18144096bd2cac25a2fbcb526",
    "residual-pq/word/encode" -> "0335d98a407d1a22ca2e0d7a79ea031c",
    "residual-pq/word/encoded" -> "90b028f5412c2af6b3722985332c7210",
    "residual-pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "residual-pq/word/loaded-batch" -> "fc7696e18144096bd2cac25a2fbcb526",
    "residual-pq/word/loaded-encoded" -> "90b028f5412c2af6b3722985332c7210",
    "residual-pq/word/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "residual-pq/word/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "residual-pq/word/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "residual-pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-pq/wide/append-topk" -> "f3d016a8f6f49b07b502f4114b119736",
    "rot-pq/wide/batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "rot-pq/wide/chunked" -> "4001549b540bd65e0c75e7bdbf00985d",
    "rot-pq/wide/encode" -> "c86e1ceff517ed93769ad84647b4aa27",
    "rot-pq/wide/encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "rot-pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "rot-pq/wide/loaded-batch" -> "4001549b540bd65e0c75e7bdbf00985d",
    "rot-pq/wide/loaded-encoded" -> "1dbb74088e07cb7a81777b8fa3c43749",
    "rot-pq/wide/loaded-topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "rot-pq/wide/topk" -> "8cea23bade174f1fb0bfc0acdae72689",
    "rot-pq/wide/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "rot-pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-pq/word/append-topk" -> "a811f34818d178d3d9279ade219b2639",
    "rot-pq/word/batch" -> "f6021675a1b29036bf992d6e680b04de",
    "rot-pq/word/chunked" -> "f6021675a1b29036bf992d6e680b04de",
    "rot-pq/word/encode" -> "c0f8fcb0e27f20338b39828d3604deef",
    "rot-pq/word/encoded" -> "b92e333d405d45add80412f26c23e951",
    "rot-pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "rot-pq/word/loaded-batch" -> "f6021675a1b29036bf992d6e680b04de",
    "rot-pq/word/loaded-encoded" -> "b92e333d405d45add80412f26c23e951",
    "rot-pq/word/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-pq/word/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-pq/word/topk-nan" -> "69b0e2fd50c4128b722517519294feda",
    "rot-pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-residual-pq/wide/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "rot-residual-pq/wide/batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "rot-residual-pq/wide/chunked" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "rot-residual-pq/wide/encode" -> "e520e73df6c8162b87e4b242e1c33100",
    "rot-residual-pq/wide/encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "rot-residual-pq/wide/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "rot-residual-pq/wide/loaded-batch" -> "dfd15164e6a96d3d8a98b1eaff156e6a",
    "rot-residual-pq/wide/loaded-encoded" -> "c12cc822b1c4afd89532838b03092ba7",
    "rot-residual-pq/wide/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-residual-pq/wide/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-residual-pq/wide/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-residual-pq/wide/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-residual-pq/word/append-topk" -> "9985ba687ba7bae4064cba73df039f7b",
    "rot-residual-pq/word/batch" -> "2886d3e9ec60636035033dd36a6cb66f",
    "rot-residual-pq/word/chunked" -> "2886d3e9ec60636035033dd36a6cb66f",
    "rot-residual-pq/word/encode" -> "89b5105231dff9b03a0e36df93a9a5c5",
    "rot-residual-pq/word/encoded" -> "9b37e726cffe6b30226cf15a43a134b4",
    "rot-residual-pq/word/incremental" -> "204b145a2c8a427311730d3812efcc9c",
    "rot-residual-pq/word/loaded-batch" -> "2886d3e9ec60636035033dd36a6cb66f",
    "rot-residual-pq/word/loaded-encoded" -> "9b37e726cffe6b30226cf15a43a134b4",
    "rot-residual-pq/word/loaded-topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-residual-pq/word/topk" -> "92f851675c0d78cc07f9e453516a38a4",
    "rot-residual-pq/word/topk-nan" -> "d41d8cd98f00b204e9800998ecf8427e",
    "rot-residual-pq/word/topk-zero" -> "d41d8cd98f00b204e9800998ecf8427e")

  shapes.foreach { shape =>
    test(s"$shape: codes and every serving output match the recorded fingerprints") {
      val got = fingerprints(shape)
      val missing = got.filterNot { case (k, _) => golden.contains(k) }
      missing.foreach { case (k, v) => println(s"""GOLDEN    "$k" -> "$v",""") }
      val wrong = got.filter { case (k, v) => golden.get(k).exists(_ != v) }
      assert(missing.isEmpty && wrong.isEmpty,
        s"fingerprints differ: ${wrong.map(_._1).mkString(", ")}; " +
          s"unrecorded: ${missing.map(_._1).mkString(", ")}")
    }
  }

  test("seeding is deterministic when two corpus rows share an id") {
    val sp = spark
    import sp.implicits._
    val clean = (1L to 40L).map(i => (i, vec(i * 37 + 5)))
    // the id every seed cut takes first (lowest xxhash64), given a
    // second row with another vector: only the vector can order the tie
    val dupId = clean.map(_._1).toDF("id")
      .select(col("id"), xxhash64(col("id")).as("h")).orderBy("h").as[(Long, Long)]
      .head()._1
    val rows = clean :+ ((dupId, vec(424242L)))
    // one partition in each row order (coalesce keeps the order), and
    // a hash repartition
    val orders = Seq(
      rows.toDF("id", "v").coalesce(1),
      rows.reverse.toDF("id", "v").coalesce(1),
      rows.toDF("id", "v").repartition(3, col("id")))
    // k = 20 of 41 rows: every row is a seed candidate, as is every
    // residual in the wide (ksub = 256) codebook
    val ivfs = orders.map(c => SimilaritySearch.ivfBuild(c, "id", "v", k = 20, lloydIters = 2))
    val cents = ivfs.map(_.centroids.map { case (c, n) => c.toSeq :+ n }.toSeq)
    assert(cents.distinct.size == 1, "IVF centroids depend on row order")
    val pqs = ivfs.map(i => SimilaritySearch.residualPqBuild(i, m = 8, ksub = 256,
      lloydIters = 2, rotation = "hadamard"))
    assert(pqs.map(_.codebook.flatten.flatten.toSeq).distinct.size == 1,
      "PQ codebook depends on row order")
    assert(pqs.map(p => fp(p.encoded)).distinct.size == 1, "PQ codes depend on row order")
  }

  test("every build skips NULL and empty corpus vectors, wherever they sit") {
    // a NULL first row used to crash the raw build (NPE in the Lloyd
    // pass) or hand the dimension probe a zero-length vector
    val sp = spark
    import sp.implicits._
    val clean = (1L to 160L).map(i => (i, vec(i * 37 + 5)))
    val corpus = ((0L, null: Array[Float]) +: (1000L, Array.empty[Float]) +: clean)
      .toDF("id", "v")
    // the IVF build skips the NULL and empty rows too, in cluster −1
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    assert(ivf.assigned.filter(col("id").isin(0L, 1000L)).select("cluster").as[Int]
      .collect().toSeq == Seq(-1, -1))
    val cleanIvf = ivf.copy(assigned = ivf.assigned.filter(col("id").between(1L, 160L)))
    def encodedRows(i: SimilaritySearch.PqIndex) =
      i.encoded.collect().map(r => r.getLong(0) -> r.toSeq.tail.mkString("|")).toMap
    for (rotation <- Seq("none", "hadamard", "opq"); residual <- Seq(false, true)) {
      def build(c: DataFrame, v: SimilaritySearch.IvfIndex) =
        if (residual) SimilaritySearch.residualPqBuild(v, m = 4, ksub = 8,
          lloydIters = 2, rotation = rotation, opqIters = 2)
        else SimilaritySearch.pqBuild(c, "id", "v", m = 4, ksub = 8,
          lloydIters = 2, rotation = rotation, opqIters = 2)
      val dirty = build(corpus, ivf)
      val ref = build(clean.toDF("id", "v"), cleanIvf)
      val what = s"${dirty.kind}:"
      assert(dirty.m * dirty.dsub == dim, what)
      // the degenerate rows change neither the codebook nor any code
      assert(dirty.codebook.flatten.flatten.toSeq == ref.codebook.flatten.flatten.toSeq,
        s"$what codebook moved")
      val got = encodedRows(dirty)
      assert(got.removedAll(Seq(0L, 1000L)) == encodedRows(ref), s"$what codes moved")
      // and they encode to zero codes with nrm 0 (cluster −1 on the IVF form)
      Seq(0L, 1000L).foreach { id =>
        assert(got(id) == (if (residual) "0|0.0|-1" else "0|0.0"), s"$what row $id: ${got(id)}")
      }
    }
  }
}
