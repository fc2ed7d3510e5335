package graft.codec

/** Word-level text model: split a byte buffer into maximal same-class runs
  * (word bytes = letters/digits/non-ASCII vs separator bytes), dictionary
  * the distinct runs, and hand the id stream to an int/entropy coder.
  * Natural-language-like payloads are token streams over a small vocabulary;
  * modeling at WORD granularity puts the first-order structure (which word
  * follows which) within reach of a static order-1 coder, which byte-level
  * contexts can't see past a word boundary. This recasts what the
  * reference's PPMd gets from deep byte contexts (order 6-8,
  * `/root/reference/src/lib/ppmd/Ppmd7.c`) into the engine's static,
  * chunk-parallel form. Tokenization is trivially lossless: classes
  * alternate, and concatenating dict(ids) reproduces the input bytes. */
object WordModel {

  @inline private def isWordByte(b: Byte): Boolean = {
    val c = b & 0xff
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c >= 0x80
  }

  /** (dictionary in order of first appearance, id per run). */
  def tokenize(data: Array[Byte]): (Array[Array[Byte]], Array[Int]) = {
    val dict = new java.util.LinkedHashMap[String, Integer]()
    val ids = scala.collection.mutable.ArrayBuilder.make[Int]
    var i = 0
    while (i < data.length) {
      val w = isWordByte(data(i))
      var j = i + 1
      while (j < data.length && isWordByte(data(j)) == w) j += 1
      // ISO-8859-1 roundtrips bytes 1:1 — the key is byte-exact
      val key = new String(data, i, j - i,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      var id = dict.get(key)
      if (id == null) { id = Integer.valueOf(dict.size()); dict.put(key, id) }
      ids += id.intValue()
      i = j
    }
    val entries = new Array[Array[Byte]](dict.size())
    val it = dict.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      entries(e.getValue.intValue()) =
        e.getKey.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    (entries, ids.result())
  }

  /** [varint count][per entry: varint byteLen, raw bytes] */
  def packDict(entries: Array[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Varint.write(bos, entries.length.toLong)
    var i = 0
    while (i < entries.length) {
      Varint.write(bos, entries(i).length.toLong)
      bos.write(entries(i), 0, entries(i).length)
      i += 1
    }
    bos.toByteArray
  }

  def unpackDict(blob: Array[Byte]): Array[Array[Byte]] = {
    val r = new Varint.Reader(blob)
    val n = r.read().toInt
    if (n < 0 || n > blob.length) throw CorruptException("word dict count")
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = r.read().toInt
      if (len < 0 || r.pos + len > blob.length) throw TruncatedException
      out(i) = java.util.Arrays.copyOfRange(blob, r.pos, r.pos + len)
      r.pos += len
      i += 1
    }
    out
  }
}
