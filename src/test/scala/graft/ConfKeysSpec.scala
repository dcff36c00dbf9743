package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The inventory of `spark.graft.*` settings the engine reads. Every
  * key is a code path a user can switch, so adding one (or reviving a
  * deleted one) must show up in the diff as an edit to the list
  * below. */
class ConfKeysSpec extends AnyFunSuite {

  private val expected = Seq(
    "spark.graft.checkpoint.reliable",
    "spark.graft.components.targetPartitionRows",
    "spark.graft.graph.broadcastMaxRows",
    "spark.graft.lsh.bucketCap",
    "spark.graft.parallelHashJoin.auto",
    "spark.graft.parallelHashJoin.buildSpillThreshold",
    "spark.graft.triangles.bloom.shardBytes")

  /** Every distinct `"spark.graft.…"` string literal (the opening quote
    * included, so scaladoc mentions do not count) in the sources under
    * `src/main`. */
  private def keysInSources(root: Path): Set[String] = {
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_]+(?:\\.[A-Za-z0-9_]+)*)".r
    val files = Files.walk(root)
    try {
      val it = files.iterator()
      val keys = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getFileName.toString
        if (name.endsWith(".scala") || name.endsWith(".java")) {
          val text = new String(Files.readAllBytes(f), "UTF-8")
          literal.findAllMatchIn(text).foreach(m => keys += m.group(1))
        }
      }
      keys.result()
    } finally files.close()
  }

  test("src/main reads exactly the listed spark.graft.* keys") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val found = keysInSources(root)
    assert(found.toSeq.sorted == expected.sorted,
      s"new keys: ${(found -- expected).toSeq.sorted.mkString(", ")}; " +
        s"keys no longer read: ${(expected.toSet -- found).toSeq.sorted.mkString(", ")}")
  }
}
