package graft.tools

/** Microbench for the quantized pairwise kernel's inner loop — which
  * int8 dot-product formulation does HotSpot actually vectorize?
  *
  * Candidates:
  *   - `longAcc`  — `long s += x(i)*y(i)` over byte[] (the first v8
  *     kernel shape)
  *   - `intAcc`   — `int s += x(i)*y(i)` over byte[] (safe while
  *     dim ≤ 2³¹/127² ≈ 133k)
  *   - `shortArr` — bytes widened ONCE per vector to short[], then
  *     `int s += x(i)*y(i)` (C2 vectorizes short→int mul-acc)
  *   - `floatRef` — the exact arm's float loop, for scale
  *
  * Run: `sbt 'runMain graft.tools.ByteDotBench'` (pure JVM, no Spark).
  */
object ByteDotBench {
  private val dim = 64
  private val n = 4096 // vectors; all-pairs = ~8.4M dots per round

  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(42)
    val bytes = Array.fill(n)(Array.fill(dim)((rnd.nextInt(255) - 127).toByte))
    val shorts = bytes.map(_.map(_.toShort))
    val floats = bytes.map(_.map(_.toFloat))

    def longAcc(x: Array[Byte], y: Array[Byte]): Long = {
      var s = 0L; var i = 0
      while (i < dim) { s += x(i) * y(i); i += 1 }; s
    }
    def intAcc(x: Array[Byte], y: Array[Byte]): Int = {
      var s = 0; var i = 0
      while (i < dim) { s += x(i) * y(i); i += 1 }; s
    }
    def shortArr(x: Array[Short], y: Array[Short]): Int = {
      var s = 0; var i = 0
      while (i < dim) { s += x(i) * y(i); i += 1 }; s
    }
    def floatRef(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += x(i).toDouble * y(i).toDouble; i += 1 }; s
    }

    def time(name: String)(pairSum: => Long): Unit = {
      (1 to 3).foreach(_ => pairSum) // warm JIT
      val rounds = 5
      val t0 = System.nanoTime()
      var sink = 0L
      (1 to rounds).foreach(_ => sink ^= pairSum)
      val sec = (System.nanoTime() - t0) / 1e9 / rounds
      val pairs = n.toLong * (n - 1) / 2
      println(f"$name%10s  ${sec * 1000}%8.1f ms/round  ${pairs / sec / 1e6}%8.1f Mdot/s  (sink=$sink)")
    }

    time("longAcc") {
      var s = 0L
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += longAcc(bytes(i), bytes(j)); j += 1 }; i += 1 }
      s
    }
    time("intAcc") {
      var s = 0L
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += intAcc(bytes(i), bytes(j)); j += 1 }; i += 1 }
      s
    }
    time("shortArr") {
      var s = 0L
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += shortArr(shorts(i), shorts(j)); j += 1 }; i += 1 }
      s
    }
    time("floatRef") {
      var s = 0L
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += floatRef(floats(i), floats(j)).toLong; j += 1 }; i += 1 }
      s
    }
    // Panama SIMD kernel (round-13): the explicit-vector formulation of
    // intAcc — same byte arrays, same exact result, explicit widening
    // lanes instead of hoping C2's auto-vectorizer fires
    if (graft.operators.Int8Kernel.SIMD)
      time("panama") {
        var s = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            s += graft.operators.VectorDotKernel.dot(bytes(i), bytes(j), dim); j += 1
          }
          i += 1
        }
        s
      }
    else println("    panama  UNAVAILABLE (run with --add-modules jdk.incubator.vector)")
  }
}
