package graft

import graft.engine._
import graft.io.Corpus

/** Single-JVM interleaved A/B of the doc_id materialization cost in the
  * columnar read path: the byte-level StrBytes route (decode once to a
  * concatenated buffer + offsets, rows copied straight into a vector) vs
  * the prior per-row String round-trip (String per row, then
  * getBytes(UTF_8) back to bytes for putByteArray). Both variants run in
  * the same JVM over the same decoded chunks, interleaved, so host-window
  * drift cannot masquerade as a code difference — the weakness of
  * comparing two separate read sessions.
  *
  * Run: sbt "Test/runMain graft.DriveDocIdBench [nRows]"
  */
object DriveDocIdBench {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toInt).getOrElse(2000000)
    val rowsPerChunk = 65536
    // representative chunks straight from the corpus generator (sorted
    // doc_ids, realistic lengths) — no Spark session needed
    val chunks = (0 until (nRows + rowsPerChunk - 1) / rowsPerChunk).map { c =>
      val rows = (0 until math.min(rowsPerChunk, nRows - c * rowsPerChunk))
        .map(i => Corpus.row(42L, (c.toLong * rowsPerChunk + i)))
      ChunkBuilder.build(0, c, rows.map(_.doc_id).toArray,
        rows.map(_.source).toArray, Array.emptyIntArray,
        rows.map(_ => 0).toArray)
    }
    // pre-split the meta so both variants time ONLY the doc_id section work
    val sink = new Array[Byte](1 << 20)
    var blackhole = 0L

    // the new path: bytes + offsets, then the per-row work the vectorized
    // reader does (copy the row's slice into a vector buffer)
    def bytesPath(): Unit = chunks.foreach { ch =>
      val cols = ChunkBuilder.openColumns(ch, null, withTokens = false,
        withDocIds = true)
      val d = cols.docIds
      var r = 0
      while (r < cols.nRows) {
        val off = d.offsets(r)
        val len = d.offsets(r + 1) - off
        System.arraycopy(d.bytes, off, sink, 0, len)
        blackhole += len
        r += 1
      }
    }
    // the old path: same decode, but a String per row + getBytes back —
    // exactly what fillRow did before the byte-level column
    def stringPath(): Unit = chunks.foreach { ch =>
      val cols = ChunkBuilder.openColumns(ch, null, withTokens = false,
        withDocIds = true)
      var r = 0
      while (r < cols.nRows) {
        val b = cols.docIds(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        System.arraycopy(b, 0, sink, 0, b.length)
        blackhole += b.length
        r += 1
      }
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm both, then interleave
    bytesPath(); stringPath(); bytesPath(); stringPath()
    val reps = (1 to 5).map(_ => (time(bytesPath()), time(stringPath())))
    val b = reps.map(_._1).min
    val s = reps.map(_._2).min
    println(f"DOCID-AB bytes=${b}%.3fs string=${s}%.3fs speedup=${s / b}%.2fx " +
      f"($nRows rows, ${chunks.size} chunks, min of 5 interleaved, bh=$blackhole)")
  }
}
