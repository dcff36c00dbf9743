package graft.operators;

import jdk.incubator.vector.ByteVector;
import jdk.incubator.vector.IntVector;
import jdk.incubator.vector.ShortVector;
import jdk.incubator.vector.Vector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD int8 dot product over the Panama Vector API (JDK incubator
 * module {@code jdk.incubator.vector}) — the one public-knowledge lever
 * left on the pairwise scoring stage after round 12 made it
 * compute-bound (~92% of the 32-thread ideal): cut the per-pair kernel
 * time itself. The widening chain is the standard public pattern for
 * int8 similarity kernels (byte lanes -> widen to short, multiply
 * exactly — 127*127 = 16129 fits a short — -> widen products to int,
 * accumulate in int lanes, one horizontal reduce at the end), as used
 * by e.g. Apache Lucene's Panama vectorization of its int8 score
 * kernels.
 *
 * Integer addition is associative, so any lane/reduction order gives
 * BIT-IDENTICAL results to the scalar loop in
 * {@link Int8Kernel#scalarDotRange} — the kernel choice is pure
 * scheduling, never semantics (spec-pinned against random arrays).
 *
 * Callers guarantee both ranges lie inside their arrays (dimension
 * validation lives in the callers, shared with the scalar path).
 * Requires {@code --add-modules jdk.incubator.vector} at class-load
 * time; {@link Int8Kernel} probes availability once per JVM and falls
 * back to the scalar loop, so a JVM without the flag degrades, never
 * crashes.
 *
 * Two chains, chosen once at class init from the host's preferred
 * vector width: 512-bit hosts (AVX-512BW — this bench host) run
 * 16 bytes/iter through short-256/int-512; narrower hosts run the
 * 8 bytes/iter short-128/int-256 chain that any 256-bit SIMD supports.
 */
public final class VectorDotKernel {

    private VectorDotKernel() {}

    // 8-lane chain: 64-bit byte loads -> 128-bit shorts -> 256-bit ints
    private static final VectorSpecies<Byte> B8 = ByteVector.SPECIES_64;
    private static final VectorSpecies<Short> S8 = ShortVector.SPECIES_128;
    private static final VectorSpecies<Integer> I8 = IntVector.SPECIES_256;

    // 16-lane chain: 128-bit byte loads -> 256-bit shorts -> 512-bit ints
    private static final VectorSpecies<Byte> B16 = ByteVector.SPECIES_128;
    private static final VectorSpecies<Short> S16 = ShortVector.SPECIES_256;
    private static final VectorSpecies<Integer> I16 = IntVector.SPECIES_512;

    private static final boolean WIDE =
        IntVector.SPECIES_PREFERRED.vectorBitSize() >= 512;

    /** Exact int32 dot of the first {@code n} components of two int8
     *  arrays; bit-identical to the scalar loop. */
    public static int dot(byte[] x, byte[] y, int n) {
        return dotRange(x, 0, y, 0, n);
    }

    /** Offset variant for flat (contiguous, strided) side buffers: dot
     *  of {@code x[xo..xo+n)} with {@code y[yo..yo+n)}. */
    public static int dotRange(byte[] x, int xo, byte[] y, int yo, int n) {
        int i = 0;
        int res = 0;
        if (WIDE && n >= 16) {
            IntVector acc = IntVector.zero(I16);
            int upper = B16.loopBound(n);
            for (; i < upper; i += 16) {
                ByteVector vx = ByteVector.fromArray(B16, x, xo + i);
                ByteVector vy = ByteVector.fromArray(B16, y, yo + i);
                Vector<Short> sx = vx.convertShape(VectorOperators.B2S, S16, 0);
                Vector<Short> sy = vy.convertShape(VectorOperators.B2S, S16, 0);
                Vector<Short> prod = sx.mul(sy);
                acc = acc.add(prod.convertShape(VectorOperators.S2I, I16, 0));
            }
            res = acc.reduceLanes(VectorOperators.ADD);
        } else if (n >= 8) {
            IntVector acc = IntVector.zero(I8);
            int upper = B8.loopBound(n);
            for (; i < upper; i += 8) {
                ByteVector vx = ByteVector.fromArray(B8, x, xo + i);
                ByteVector vy = ByteVector.fromArray(B8, y, yo + i);
                Vector<Short> sx = vx.convertShape(VectorOperators.B2S, S8, 0);
                Vector<Short> sy = vy.convertShape(VectorOperators.B2S, S8, 0);
                Vector<Short> prod = sx.mul(sy);
                acc = acc.add(prod.convertShape(VectorOperators.S2I, I8, 0));
            }
            res = acc.reduceLanes(VectorOperators.ADD);
        }
        for (; i < n; i++) {
            res += x[xo + i] * y[yo + i];
        }
        return res;
    }
}
