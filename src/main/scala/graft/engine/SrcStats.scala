package graft.engine

/** Per-chunk, per-source (row count, token count) statistics, serialized
  * into a compact binary blob carried by the MANIFEST row (never by the
  * chunk frame — data-file bytes, and so byte-determinism and resume
  * equality, are untouched).
  *
  * Why it exists: the first real rollup on a token corpus is
  * `GROUP BY source`, and without these stats the cheapest possible answer
  * is one meta range-read per chunk — 100M small reads at 100 TB where the
  * few-KB manifest already flowed through the planner. With them, the
  * rollup is MANIFEST-ONLY, the way count(*) already is (reference analog:
  * answering from framing, not data — `tests/test_ppmd7.py:95-146`).
  *
  * Format (all varints, sources sorted by name for determinism):
  *   [n_entries] then per entry [keyLen][key utf8][rows][tokens]
  *
  * Decode FAILS OPEN (None): an absent (pre-upgrade manifest) or
  * unreadable blob costs a per-chunk meta read, never a wrong answer —
  * the index-structure policy used repo-wide. */
object SrcStats {

  /** Aggregate and serialize. `sources`/`rowLens` are the chunk's per-row
    * columns (parallel arrays). */
  def encode(sources: Array[String], rowLens: Array[Int]): Array[Byte] = {
    val rows = new java.util.TreeMap[String, Array[Long]]()
    var i = 0
    while (i < sources.length) {
      var e = rows.get(sources(i))
      if (e == null) { e = new Array[Long](2); rows.put(sources(i), e) }
      e(0) += 1L
      e(1) += rowLens(i).toLong
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream(16 * (rows.size + 1))
    graft.codec.Varint.write(bos, rows.size.toLong)
    val it = rows.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      graft.codec.Varint.write(bos, kb.length.toLong)
      bos.write(kb, 0, kb.length)
      graft.codec.Varint.write(bos, e.getValue()(0))
      graft.codec.Varint.write(bos, e.getValue()(1))
    }
    bos.toByteArray
  }

  /** None = no stats available (empty/absent/corrupt blob) — the caller
    * falls back to a meta read for this chunk. */
  def decode(b: Array[Byte]): Option[Seq[(String, Long, Long)]] = {
    if (b == null || b.isEmpty) return None
    try {
      val r = new graft.codec.Varint.Reader(b)
      val n = r.read()
      if (n < 0 || n > b.length) return None // an entry needs >= 1 byte
      val out = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)](n.toInt)
      var i = 0L
      while (i < n) {
        val kl = r.read()
        if (kl < 0 || kl > r.limit - r.pos) return None
        val key = new String(b, r.pos, kl.toInt,
          java.nio.charset.StandardCharsets.UTF_8)
        r.pos += kl.toInt
        val rows = r.read()
        val toks = r.read()
        if (rows < 0 || toks < 0) return None
        out += ((key, rows, toks))
        i += 1
      }
      if (r.hasMore) None else Some(out.toSeq) // trailing garbage = corrupt
    } catch { case _: Exception => None }
  }
}
