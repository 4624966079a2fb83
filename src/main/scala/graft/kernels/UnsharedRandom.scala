package graft.kernels

/** `java.util.Random` for one thread: the same 48-bit LCG kept in a
  * plain `long` instead of an `AtomicLong`, so each draw skips the
  * compare-and-set. `Random(long)` hands a subclass's seed to the
  * overridable `setSeed`, and `nextInt`, `nextDouble` and
  * `nextGaussian` draw through `next(bits)`, so every stream equals
  * `new java.util.Random(seed)`'s (pinned by `HostlessKernelSpec`).
  * Not safe to share between threads.
  */
final class UnsharedRandom(seed0: Long) extends java.util.Random(seed0) {

  // no initializer: the superclass constructor sets it via setSeed
  private var state: Long = _

  override def setSeed(seed: Long): Unit = {
    super.setSeed(seed) // also drops a cached nextGaussian
    state = (seed ^ UnsharedRandom.Multiplier) & UnsharedRandom.Mask
  }

  override protected def next(bits: Int): Int = {
    state = (state * UnsharedRandom.Multiplier + UnsharedRandom.Addend) & UnsharedRandom.Mask
    (state >>> (48 - bits)).toInt
  }
}

object UnsharedRandom {
  private final val Multiplier = 0x5DEECE66DL
  private final val Addend = 0xBL
  private final val Mask = (1L << 48) - 1
}
