package graft.tools

/** Microbench for the SHAPE of the pairwise admission loop — round 13.
  *
  * The Panama SIMD dot is 3.7× the scalar loop in isolation
  * (ByteDotBench) yet moved the real 200k-vector scoring stage by ~0%
  * (results/pairbw kernel A/B). So the per-pair budget (~75 ns of
  * executor time per pair at 200k) is NOT dominated by the dot. This
  * isolates the three candidate overheads at a REALISTIC block size
  * (the real kernel sees ~2·N/B ≈ 18k vectors per side — multi-MB
  * working set, NOT the cache-resident 4k of ByteDotBench):
  *
  *   - `f4box`   — admission via `Function4[QS, Int, QS, Int, Boolean]`
  *                 (the shipped shape): every call boxes both Int
  *                 indices → 2 allocations per pair
  *   - `sam`     — admission via a primitive-signature SAM (no boxing)
  *   - `samflat` — SAM + ONE contiguous byte[] per side (stride d)
  *                 instead of Array[Array[Byte]] pointer-chasing
  *   - `samflatV`— samflat + Panama SIMD dot on the flat buffer
  *
  * All four compute the identical certified-bound admission over the
  * same data; the admitted-pair count is the checksum.
  *
  * Run: `sbt 'runMain graft.tools.KernelShapeBench [n] [dim]'`.
  */
object KernelShapeBench {

  final class QS(val n: Int, val dim: Int, rnd: scala.util.Random) {
    val qs: Array[Array[Byte]] =
      Array.fill(n)(Array.fill(dim)((rnd.nextInt(255) - 127).toByte))
    val flat: Array[Byte] = {
      val b = new Array[Byte](n * dim)
      var i = 0
      while (i < n) { System.arraycopy(qs(i), 0, b, i * dim, dim); i += 1 }
      b
    }
    val ns: Array[Double] = qs.map { q =>
      var s = 0L; var k = 0
      while (k < q.length) { s += q(k) * q(k); k += 1 }
      math.sqrt(s.toDouble)
    }
    val ss: Array[Double] = Array.fill(n)(0.01)
    val a1s: Array[Double] = qs.map { q =>
      var s = 0L; var k = 0
      while (k < q.length) { s += math.abs(q(k)); k += 1 }
      0.01 * s
    }
    val nfs: Array[Double] = ns.map(_ * 0.01)
  }

  trait Admit { def apply(a: QS, i: Int, b: QS, j: Int): Boolean }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 18000
    val dim = if (args.length > 1) args(1).toInt else 64
    val threshold = 0.80 // selective, like the real 0.45-on-cosine cut
    val rnd = new scala.util.Random(13L)
    val side = new QS(n, dim, rnd)
    println(f"[kshape] n=$n dim=$dim side bytes=${n * dim} (${n * dim / 1e6}%.1f MB/side)")

    def sdot(x: Array[Byte], y: Array[Byte]): Int = {
      var s = 0; var k = 0
      while (k < dim) { s += x(k) * y(k); k += 1 }
      s
    }
    def sdotFlat(x: Array[Byte], xo: Int, y: Array[Byte], yo: Int): Int = {
      var s = 0; var k = 0
      while (k < dim) { s += x(xo + k) * y(yo + k); k += 1 }
      s
    }

    // the certified-bound arithmetic, identical in all arms
    @inline def rule(a: QS, i: Int, b: QS, j: Int, c: Int): Boolean = {
      val den = a.nfs(i) * b.nfs(j)
      if (den == 0.0) false
      else {
        val sa = a.ss(i); val sb = b.ss(j)
        val coarse = sa * sb * c
        val eb = 0.5 * (sb * a.a1s(i) + sa * b.a1s(j)) + 0.25 * sa * sb * dim
        (coarse + eb) / den + 2e-4 >= threshold
      }
    }

    val f4: (QS, Int, QS, Int) => Boolean =
      (a, i, b, j) => rule(a, i, b, j, sdot(a.qs(i), b.qs(j)))
    val sam: Admit = (a, i, b, j) => rule(a, i, b, j, sdot(a.qs(i), b.qs(j)))
    val samFlat: Admit = (a, i, b, j) =>
      rule(a, i, b, j, sdotFlat(a.flat, i * dim, b.flat, j * dim))
    val samFlatV: Admit = (a, i, b, j) =>
      rule(a, i, b, j,
        graft.operators.VectorDotKernel.dotRange(a.flat, i * dim, b.flat, j * dim, dim))

    def time(name: String)(loop: => Long): Unit = {
      loop // warm JIT
      val rounds = 3
      val t0 = System.nanoTime()
      var sink = 0L
      (1 to rounds).foreach(_ => sink += loop)
      val sec = (System.nanoTime() - t0) / 1e9 / rounds
      val pairs = n.toLong * (n - 1) / 2
      println(f"$name%9s  ${sec}%7.2f s/round  ${sec / pairs * 1e9}%6.2f ns/pair  admitted=${sink / rounds}")
    }

    time("f4box") {
      var hits = 0L; var i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) { if (f4(side, i, side, j)) hits += 1; j += 1 }
        i += 1
      }
      hits
    }
    time("sam") {
      var hits = 0L; var i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) { if (sam(side, i, side, j)) hits += 1; j += 1 }
        i += 1
      }
      hits
    }
    time("samflat") {
      var hits = 0L; var i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) { if (samFlat(side, i, side, j)) hits += 1; j += 1 }
        i += 1
      }
      hits
    }
    if (graft.operators.Int8Kernel.SIMD)
      time("samflatV") {
        var hits = 0L; var i = 0
        while (i < n - 1) {
          var j = i + 1
          while (j < n) { if (samFlatV(side, i, side, j)) hits += 1; j += 1 }
          i += 1
        }
        hits
      }
    else println(" samflatV  UNAVAILABLE (no jdk.incubator.vector)")
  }
}
