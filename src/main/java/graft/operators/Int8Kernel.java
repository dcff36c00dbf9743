package graft.operators;

/**
 * The one int8 dot product every near-dup kernel site calls: the
 * pairwise admission rules, the incremental admission scan and the
 * quantized serving scan.
 *
 * {@link #SIMD} is probed once per JVM, at class init: it is set when
 * the Panama kernel ({@link VectorDotKernel}, which needs
 * {@code --add-modules jdk.incubator.vector}) loads and returns a known
 * dot, and clear otherwise. HotSpot folds a static final boolean into
 * the compiled caller, so each call site keeps one direct, inlinable
 * path with no per-pair branch; that is what the Vector API needs to
 * reach its throughput (tools/KernelShapeBench). A JVM without the
 * module takes the scalar loop. Integer addition is associative, so
 * both loops return bit-identical results.
 */
public final class Int8Kernel {

    private Int8Kernel() {}

    /** Whether {@link #dotRange} runs the Panama kernel in this JVM. */
    public static final boolean SIMD = probe();

    private static boolean probe() {
        try {
            return VectorDotKernel.dot(new byte[] {1, 2, 3}, new byte[] {4, 5, 6}, 3) == 32;
        } catch (Throwable t) {
            return false;
        }
    }

    /** Exact int32 dot of {@code x[xo..xo+n)} with {@code y[yo..yo+n)}.
     *  Callers check that both ranges lie inside their arrays. */
    public static int dotRange(byte[] x, int xo, byte[] y, int yo, int n) {
        return SIMD ? VectorDotKernel.dotRange(x, xo, y, yo, n)
                    : scalarDotRange(x, xo, y, yo, n);
    }

    /** The scalar loop. An int accumulator lets HotSpot vectorize the
     *  byte multiply-add (tools/ByteDotBench); it is exact while
     *  {@code n <= 2^31 / 127^2}, about 133k components. */
    public static int scalarDotRange(byte[] x, int xo, byte[] y, int yo, int n) {
        int s = 0;
        for (int k = 0; k < n; k++) {
            s += x[xo + k] * y[yo + k];
        }
        return s;
    }
}
