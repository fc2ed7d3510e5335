package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** `ChunkBuilder.build` takes `min_tok`, `max_tok` and the token sketch
  * from the encode's statistics; they must equal a min/max loop over the
  * tokens and `TokenSketch.build`, on every path the encode takes (the
  * blocks, a flat codec, short vectors, wide and negative ranges) and
  * when the tokens are a prefix of a longer buffer. */
class ChunkSketchSpec extends AnyFunSuite {

  private def check(tokens: Array[Int], rowLens: Array[Int]): Unit = {
    val n = tokens.length
    val ids = Array.tabulate(rowLens.length)(i => f"d$i%06d")
    val srcs = Array.fill(rowLens.length)("s")
    val c = ChunkBuilder.build(0, 0, ids, srcs, tokens, rowLens)
    val minTok = if (n == 0) Int.MaxValue else tokens.min
    val maxTok = if (n == 0) Int.MinValue else tokens.max
    assert(c.min_tok == minTok && c.max_tok == maxTok, s"n=$n")
    val want = if (n == 0) Array.emptyByteArray else TokenSketch.build(tokens, minTok, maxTok)
    assert(java.util.Arrays.equals(c.tok_set, want), s"n=$n")
    // the same chunk from the front of a longer row buffer
    val buf = java.util.Arrays.copyOf(tokens, n + 100)
    java.util.Arrays.fill(buf, n, buf.length, Int.MinValue)
    val c2 = ChunkBuilder.build(0, 0, ids, srcs, buf, n, rowLens, null)
    def bare(e: EncodedChunk) =
      e.copy(payload = null, meta = null, tok_set = null, src_stats = null)
    assert(bare(c2) == bare(c), s"n=$n")
    assert(java.util.Arrays.equals(c2.payload, c.payload) &&
      java.util.Arrays.equals(c2.meta, c.meta) &&
      java.util.Arrays.equals(c2.tok_set, c.tok_set) &&
      java.util.Arrays.equals(c2.src_stats, c.src_stats), s"n=$n")
  }

  private def rowsOf(n: Int, len: Int): Array[Int] =
    if (n == 0) Array(0) else Array.fill(n / len)(len) ++ (if (n % len > 0) Array(n % len) else Array.empty[Int])

  test("sketch and bounds from the encode's stats equal a fresh scan") {
    val rng = new scala.util.Random(11)
    for (n <- Seq(0, 1, 100, 511, 512, 5000, 60000)) {
      check(Array.fill(n)(rng.nextInt(50257)), rowsOf(n, 300))      // token ids
      check(Array.fill(n)(rng.nextInt(64)), rowsOf(n, 300))         // narrow
      check(Array.fill(n)(7), rowsOf(n, 300))                       // constant
      check(Array.fill(n)(rng.nextInt(200) - 100), rowsOf(n, 300))  // negative
      check(Array.fill(n)(rng.nextInt()), rowsOf(n, 300))           // wide
      check(Array.fill(n)(rng.nextInt(65536) + 10), rowsOf(n, 1000)) // 2^16 - 1 range
      check(Array.tabulate(n)(i => i % 65537), rowsOf(n, 1000))      // 2^16 range
    }
  }
}
