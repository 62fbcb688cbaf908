package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Round-trip + selector tests per FIXTURES.md F2; mirrors the reference's
  * per-column round-trip tests (/root/reference/src/lib.rs:390-421) and
  * seeded-random test (:423-467).
  */
class CodecSpec extends AnyFunSuite {
  val cfg = BtrConfig.default

  def rtInt(v: Array[Int]): Unit = {
    val enc = IntCodec.encode(v, cfg)
    val dec = IntCodec.decode(enc)
    assert(dec.sameElements(v), s"int roundtrip failed (n=${v.length})")
  }

  def rtDouble(v: Array[Double]): Unit = {
    val enc = DoubleCodec.encode(v, cfg)
    val dec = DoubleCodec.decode(enc)
    assert(dec.length == v.length)
    var i = 0
    while (i < v.length) {
      assert(
        java.lang.Double.doubleToRawLongBits(dec(i)) == java.lang.Double.doubleToRawLongBits(v(i)),
        s"double bit mismatch at $i: ${v(i)} vs ${dec(i)}")
      i += 1
    }
  }

  def rtString(v: Array[String]): Unit = {
    val bytes = v.map(_.getBytes(UTF_8))
    val enc = StringCodec.encode(bytes, cfg)
    val dec = StringCodec.decode(enc)
    assert(dec.length == v.length)
    var i = 0
    while (i < v.length) {
      assert(java.util.Arrays.equals(dec(i), bytes(i)), s"string mismatch at $i: '${v(i)}' vs '${new String(dec(i), UTF_8)}'")
      i += 1
    }
  }

  /** Mirror of the reference's seeded generator generate_data(size, unique,
    * runlength, seed) — /root/reference/src/lib.rs:469-488 (pattern, not code).
    */
  def genData(size: Int, unique: Int, runLength: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val out = new Array[Int](size)
    var i = 0
    while (i < size) {
      val v = rnd.nextInt(unique)
      var r = 0
      while (r < runLength && i < size) { out(i) = v; i += 1; r += 1 }
    }
    out
  }

  // ---------------------------------------------------------------- ints

  val edgeSizes = Seq(0, 1, 2, 65535, 65536, 65537)

  test("int constant -> OneValue, all edge sizes") {
    for (n <- edgeSizes) {
      val v = Array.fill(n)(42)
      rtInt(v)
      if (n > 0) {
        val tag = new BufReader(IntCodec.encode(v, cfg)).u8()
        assert(tag == IntCodec.TagOneValue)
      }
    }
  }

  test("int low-cardinality") {
    val rnd = new scala.util.Random(7)
    val v = Array.fill(100000)(rnd.nextInt(16) * 1000003)
    rtInt(v)
    val enc = IntCodec.encode(v, cfg)
    assert(enc.length < v.length * 4 / 4, s"low-card should compress >=4x, got ${enc.length}")
  }

  test("int runs (reference generate_data 640k/4095/40)") {
    for (seed <- Seq(69L, 42L)) {
      val v = genData(640000, 4095, 40, seed)
      rtInt(v)
      val enc = IntCodec.encode(v, cfg)
      val ratio = v.length * 4.0 / enc.length
      assert(ratio > 8.0, s"run-heavy data should compress >8x, got $ratio")
    }
  }

  test("int dense range -> FBP") {
    val v = Array.tabulate(100000)(i => 1000000 + (i % 250))
    rtInt(v)
    val enc = IntCodec.encode(v, cfg)
    assert(enc.length < v.length * 4 / 2)
  }

  test("int skewed -> Frequency") {
    val rnd = new scala.util.Random(11)
    val v = Array.fill(100000)(if (rnd.nextInt(100) < 95) 777 else rnd.nextInt())
    rtInt(v)
    val enc = IntCodec.encode(v, cfg)
    assert(enc.length < v.length * 4 / 3)
  }

  test("int random stays ~uncompressed and round-trips") {
    val rnd = new scala.util.Random(13)
    val v = Array.fill(70000)(rnd.nextInt())
    rtInt(v)
    val enc = IntCodec.encode(v, cfg)
    assert(enc.length <= v.length * 4 + 64)
  }

  test("int extremes (Int.MinValue / MaxValue mixed)") {
    rtInt(Array(Int.MinValue, Int.MaxValue, 0, -1, 1, Int.MinValue, Int.MaxValue))
    rtInt(Array.tabulate(70000)(i => if (i % 2 == 0) Int.MinValue else Int.MaxValue))
  }

  test("int property: decode(encode(x)) == x over 50 seeded random shapes") {
    val rnd = new scala.util.Random(1001)
    for (_ <- 0 until 50) {
      val n = rnd.nextInt(2000)
      rtInt(Array.fill(n)(rnd.nextInt()))
      rtInt(genData(n, math.max(1, rnd.nextInt(100)), math.max(1, rnd.nextInt(50)), rnd.nextLong()))
    }
  }

  // ---------------------------------------------------------------- doubles

  test("double constant / edge sizes") {
    for (n <- edgeSizes) rtDouble(Array.fill(n)(3.14159))
  }

  test("double decimal-like (prices) -> Pseudodecimal") {
    val rnd = new scala.util.Random(17)
    val v = Array.fill(100000)((rnd.nextInt(100000)) / 100.0)
    rtDouble(v)
    val enc = DoubleCodec.encode(v, cfg)
    assert(enc.length < v.length * 8 / 2, s"decimal data should compress >2x, got ${v.length * 8.0 / enc.length}x")
  }

  test("double runs") {
    val base = genData(200000, 500, 40, 42L)
    val v = base.map(_ * 0.25)
    rtDouble(v)
    assert(DoubleCodec.encode(v, cfg).length < v.length * 8 / 4)
  }

  test("double specials bit-identical (NaN payloads, -0.0, inf, subnormal)") {
    val weird = Array(
      0.0, -0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, -Double.MaxValue, 1.0 / 3.0)
    rtDouble(weird)
    rtDouble(Array.tabulate(70000)(i => weird(i % weird.length)))
  }

  test("double property: bit-identical roundtrip over 50 seeded random shapes") {
    val rnd = new scala.util.Random(1002)
    val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity)
    for (_ <- 0 until 50) {
      val n = rnd.nextInt(2000)
      rtDouble(Array.fill(n)(rnd.nextInt(4) match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => math.rint(rnd.nextDouble() * 100000) / 100
        case 2 => specials(rnd.nextInt(specials.length))
        case _ => rnd.nextDouble() * 1e18 - 5e17
      }))
    }
  }

  // ---------------------------------------------------------------- strings

  test("string constant / edge sizes") {
    for (n <- Seq(0, 1, 2, 65537)) rtString(Array.fill(n)("hello world"))
  }

  test("string low-cardinality -> Dict") {
    val langs = Array("scala", "rust", "python", "go", "java", "c", "cpp", "js")
    val rnd = new scala.util.Random(23)
    val v = Array.fill(50000)(langs(rnd.nextInt(langs.length)))
    rtString(v)
    val enc = StringCodec.encode(v.map(_.getBytes(UTF_8)), cfg)
    val raw = v.map(_.length).sum
    assert(enc.length < raw / 4, s"low-card strings should compress >4x, got ${raw.toDouble / enc.length}")
    assert(StringCodec.describeBlock(enc).startsWith("Dict"))
  }

  test("string code-like text -> FSST compresses >2x") {
    val rnd = new scala.util.Random(29)
    val kw = Array("def ", "val ", "return ", "import ", "class ", "object ", "match ", "case ")
    val ids = Array("index", "value", "result", "buffer", "stream", "count")
    val v = Array.fill(20000) {
      val sb = new StringBuilder
      for (_ <- 0 until 5)
        sb.append("  " * rnd.nextInt(4)).append(kw(rnd.nextInt(kw.length)))
          .append(ids(rnd.nextInt(ids.length))).append(" = ")
          .append(ids(rnd.nextInt(ids.length))).append("(").append(rnd.nextInt(100)).append(")\n")
      sb.toString
    }
    rtString(v)
    val bytes = v.map(_.getBytes(UTF_8))
    val raw = bytes.map(_.length).sum
    val enc = StringCodec.encode(bytes, cfg)
    assert(enc.length * 2 < raw, s"code text should compress >2x, got ${raw.toDouble / enc.length}x")
  }

  test("string high-entropy (commit hashes) round-trips") {
    val rnd = new scala.util.Random(31)
    val v = Array.fill(20000)(Seq.fill(40)("0123456789abcdef" (rnd.nextInt(16))).mkString)
    rtString(v)
  }

  test("string empty strings, unicode, binary-ish") {
    rtString(Array("", "", "a", "", "日本語テキスト", "emoji 🎉🎊", "tab\tnewline\nnull"))
    val rnd = new scala.util.Random(1003)
    for (_ <- 0 until 30) {
      val n = rnd.nextInt(500)
      rtString(Array.fill(n)(rnd.nextInt(3) match {
        case 0 => ""
        case 1 => rnd.alphanumeric.take(rnd.nextInt(30)).mkString
        case _ => Array.fill(rnd.nextInt(20))(rnd.nextPrintableChar()).mkString
      }))
    }
  }

  // ---------------------------------------------------------------- fsst unit

  /** Round-trips `values` through `table` and StringCodec's FSST block; returns the blob length. */
  def fsstRoundTrip(table: FsstTable, values: Array[Array[Byte]]): Int = {
    val s = StrSlices.of(values)
    val out = new BufWriter()
    StringCodec.encFsst(out, table, s, cfg.maxCascadeDepth, cfg)
    val dec = StringCodec.decode(out.result())
    assert(dec.length == values.length)
    values.indices.foreach(i => assert(java.util.Arrays.equals(dec(i), values(i)), s"fsst mismatch at $i"))
    val clens = new Array[Int](values.length)
    table.compress(s, clens)
    clens.sum
  }

  test("fsst: table round-trip on repetitive text") {
    val text = ("http://www.example.org/path/to/resource?id=" * 500).getBytes(UTF_8)
    val table = Fsst.train(text)
    assert(table.symbols.nonEmpty)
    val clen = fsstRoundTrip(table, Array(text))
    assert(clen < text.length / 2, s"fsst should halve urls, got $clen vs ${text.length}")
  }

  test("fsst: empty table escapes everything") {
    val table = new FsstTable(Array.empty)
    val data = Array[Byte](1, 2, 3, -1, 0)
    assert(fsstRoundTrip(table, Array(data)) == data.length * 2)
  }

  test("fsst: 0xFF bytes (escape collision) round-trip") {
    val data = Array.fill[Byte](1000)(-1) // 0xFF
    fsstRoundTrip(Fsst.train(data), Array(data))
  }

  /** Plain greedy longest match: at each position try every symbol and keep
    * the longest that fits inside the value (the lowest code among equals).
    */
  def oracleCompress(symbols: Array[Array[Byte]], v: Array[Byte]): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var pos = 0
    while (pos < v.length) {
      var best = -1
      var c = 0
      while (c < symbols.length) {
        val s = symbols(c)
        if (pos + s.length <= v.length && (best < 0 || s.length > symbols(best).length) &&
            java.util.Arrays.equals(s, 0, s.length, v, pos, pos + s.length)) best = c
        c += 1
      }
      if (best >= 0) { out += best.toByte; pos += symbols(best).length }
      else { out += Fsst.EscapeCode.toByte; out += v(pos); pos += 1 }
    }
    out.result()
  }

  test("fsst: encoder equals a plain greedy longest match on seeded tables") {
    val rnd = new scala.util.Random(67)
    val alphabet = "abcd".getBytes(UTF_8) :+ (-1).toByte
    def word(n: Int): Array[Byte] = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
    val shared = "abc".getBytes(UTF_8)
    val tables = Seq(
      "shared 3-byte prefix" -> (Array.fill(40)(shared ++ word(rnd.nextInt(6))) ++
        Array.fill(30)(word(1 + rnd.nextInt(2))) ++ Array.fill(20)(word(3 + rnd.nextInt(6)))),
      "8-byte symbols" -> (Array.fill(60)(word(8)) ++ Array.fill(10)(word(1 + rnd.nextInt(7)))),
      "0xFF bytes" -> Array.fill(255)(Array.fill(1 + rnd.nextInt(8))((-1).toByte)),
      "full random" -> Array.fill(255)(word(1 + rnd.nextInt(8))),
      "empty" -> Array.empty[Array[Byte]])
    for ((name, symbols) <- tables) {
      val table = new FsstTable(symbols)
      for (round <- 0 until 40) {
        val values = Array.fill(1 + rnd.nextInt(12)) {
          rnd.nextInt(6) match {
            case 0 => Array.empty[Byte]
            case 1 => word(1)
            case 2 => word(2)
            case _ => word(3 + rnd.nextInt(38))
          }
        }
        // exact-size arena, so the last values end within 8 bytes of its end
        val s = StrSlices.of(values)
        val exact = new StrSlices(java.util.Arrays.copyOf(s.data, s.offsets(s.count)), s.offsets, s.count)
        val clens = new Array[Int](values.length)
        val blob = table.compress(exact, clens)
        var at = 0
        values.indices.foreach { i =>
          val got = java.util.Arrays.copyOfRange(blob, at, at + clens(i))
          val want = oracleCompress(symbols, values(i))
          assert(got.sameElements(want), s"$name round $round value $i: codes differ from the oracle")
          at += clens(i)
        }
        fsstRoundTrip(table, values)
      }
    }
  }

  test("fsst: one-shot decode arena holds the tight cases exactly") {
    val syms = Array("abcdefgh", "ijklmnop", "x").map(_.getBytes(UTF_8))
    val table = new FsstTable(syms)
    def decodeBlob(values: Array[Array[Byte]]): (DecodedStrings, Int) = {
      val s = StrSlices.of(values)
      val clens = new Array[Int](values.length)
      val blob = table.compress(s, clens)
      val d = Fsst.decompress(table, blob, 0, clens.sum, clens, values.length)
      assert(d.count == values.length)
      values.indices.foreach(i => assert(java.util.Arrays.equals(d.copy(i), values(i)), s"value $i"))
      assert(d.data.length == 8 * clens.sum + 8)
      assert(Fsst.decodedLength(table, blob, 0, clens.sum) == values.map(_.length.toLong).sum)
      (d, clens.sum)
    }
    // only 8-byte symbols: 8 bytes out per blob byte, the bound is tight, and
    // the last value's final 8-byte store ends at the bound
    val eights = Array("abcdefghijklmnop", "ijklmnopabcdefghabcdefgh", "abcdefgh").map(_.getBytes(UTF_8))
    val (d8, blob8) = decodeBlob(eights)
    assert(d8.starts.last + d8.lens.last == 8 * blob8)
    // only escapes
    val rnd = new scala.util.Random(71)
    val esc = Array.fill(20)(Array.fill(rnd.nextInt(30))(("ABC" (rnd.nextInt(3))).toByte))
    assert(decodeBlob(esc)._2 == 2 * esc.map(_.length).sum)
    // a chunk of empty strings: every clens is 0
    val (de, blobE) = decodeBlob(Array.fill(100)(Array.empty[Byte]))
    assert(blobE == 0 && de.lens.forall(_ == 0))
    // 8-byte symbols, escapes and a 1-byte symbol mixed, ending on an 8-byte symbol
    decodeBlob(Array("xZabcdefgh", "", "Zijklmnop").map(_.getBytes(UTF_8)))
  }

  /** Training samples whose tables are pinned: code-like text, 40-char hex
    * strings and a repeated URL.
    */
  private def trainSamples: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(59)
    val kw = Array("def ", "val ", "return ", "import ", "class ", "object ", "if (", "while (")
    val ids = Array("index", "value", "result", "buffer", "stream", "count", "offset", "length")
    val code = Seq.fill(2000)(
      "  " * rnd.nextInt(4) + kw(rnd.nextInt(kw.length)) + ids(rnd.nextInt(ids.length)) +
        " = " + ids(rnd.nextInt(ids.length)) + s".get(${rnd.nextInt(1000)})\n").mkString
    val hex = Seq.fill(2000)(Seq.fill(40)("0123456789abcdef" (rnd.nextInt(16))).mkString).mkString
    val url = "http://www.example.org/path/to/resource?id=" * 500
    Seq("code text" -> code, "hex40" -> hex, "repeated url" -> url).map { case (n, s) => n -> s.getBytes(UTF_8) }
  }

  /** CRC32C of `FsstTable.serialize` after `Fsst.train` on each sample. */
  private val pinnedTables = Map(
    "code text" -> 0x06dac717L,
    "hex40" -> 0x1920ebc0L,
    "repeated url" -> 0xc238b36fL)

  test("fsst: trained tables are pinned") {
    val got = trainSamples.map { case (name, s) =>
      val w = new BufWriter()
      Fsst.train(s).serialize(w)
      name -> crc32c(w.result())
    }
    val changed = got.filter { case (name, crc) => !pinnedTables.get(name).contains(crc) }
    assert(changed.isEmpty,
      "trained tables changed: " + changed.map { case (n, c) => f"$n -> 0x$c%08xL" }.mkString(", "))
  }

  // ----------------------------------------------------------- arena slices

  def rtSlices(v: Array[String]): Unit = {
    val b = new StrSlicesBuilder()
    v.foreach(s => b.add(s.getBytes(UTF_8)))
    val out = new BufWriter()
    StringCodec.encodeSlices(out, b.result(), cfg.maxCascadeDepth, cfg)
    val dec = StringCodec.decode(out.result())
    assert(dec.length == v.length)
    var i = 0
    while (i < v.length) {
      assert(java.util.Arrays.equals(dec(i), v(i).getBytes(UTF_8)), s"slices mismatch at $i")
      i += 1
    }
  }

  test("slices encode: all string shapes round-trip via the arena path") {
    rtSlices(Array.empty)
    rtSlices(Array(""))
    rtSlices(Array.fill(70000)("const"))
    val langs = Array("scala", "rust", "python", "go")
    val rnd = new scala.util.Random(41)
    rtSlices(Array.fill(5000)(langs(rnd.nextInt(langs.length)))) // dict
    rtSlices(Array.fill(3000) { // fsst
      s"def f_${rnd.nextInt(50)}(x) = buffer.stream(${rnd.nextInt(100)})\n" * 5
    })
    rtSlices(Array.fill(2000)(Seq.fill(40)("0123456789abcdef" (rnd.nextInt(16))).mkString)) // high entropy
    rtSlices(Array.tabulate(1000)(i => if (i % 3 == 0) "" else s"v$i")) // empties mixed
  }

  test("slices and array paths choose the same scheme") {
    val rnd = new scala.util.Random(43)
    val langs = Array("en", "de", "fr")
    val dictData = Array.fill(4000)(langs(rnd.nextInt(3)))
    val b = new StrSlicesBuilder()
    dictData.foreach(s => b.add(s.getBytes(UTF_8)))
    val w = new BufWriter()
    StringCodec.encodeSlices(w, b.result(), cfg.maxCascadeDepth, cfg)
    val viaSlices = StringCodec.describeBlock(w.result())
    val viaArrays = StringCodec.describeBlock(StringCodec.encode(dictData.map(_.getBytes(UTF_8)), cfg))
    assert(viaSlices == viaArrays, s"$viaSlices vs $viaArrays")
    assert(viaSlices.startsWith("Dict"))
  }

  // ---------------------------------------------------------- pinned bytes

  private def crc32c(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C
    c.update(b)
    c.getValue
  }

  /** F2 string fixtures whose encoded bytes are pinned: (name, depth,
    * values). Null rows of a nullable column reach the codec as "".
    */
  private def pinFixtures: Seq[(String, Int, Array[String])] = {
    val rnd = new scala.util.Random(53)
    val langs = Array("scala", "rust", "python", "go", "java", "c", "cpp", "js")
    val paths = Array.tabulate(64)(i => s"src/main/scala/com/example/project/module$i/Service$i.scala")
    val kw = Array("def ", "val ", "return ", "import ", "class ", "object ")
    val ids = Array("index", "value", "result", "buffer", "stream", "count")
    def code(): String = Seq.fill(5)(
      "  " * rnd.nextInt(4) + kw(rnd.nextInt(kw.length)) + ids(rnd.nextInt(ids.length)) +
        " = " + ids(rnd.nextInt(ids.length)) + s"(${rnd.nextInt(100)})\n").mkString
    val cascade = Array.fill(50000)(paths(rnd.nextInt(paths.length)))
    val d = cfg.maxCascadeDepth
    Seq(
      ("constant", d, Array.fill(1000)("hello world")),
      ("low-card dict", d, Array.fill(20000)(langs(rnd.nextInt(langs.length)))),
      ("code-text fsst", d, Array.fill(3000)(code())),
      ("dict->fsst cascade", d, cascade),
      ("hex40", d, Array.fill(2000)(Seq.fill(40)("0123456789abcdef" (rnd.nextInt(16))).mkString)),
      ("empties mixed", d, Array.tabulate(1000)(i => if (i % 3 == 0) "" else s"v$i")),
      ("65536 rows", d, Array.tabulate(65536)(i => s"k${i % 97}")),
      ("65537 rows", d, Array.tabulate(65537)(i => s"k${i % 97}")),
      ("null placeholders", d, Array.tabulate(5000)(i => if (i % 7 == 0) "" else langs(rnd.nextInt(5)))),
      ("depth 0", 0, cascade),
      ("depth 1", 1, cascade))
  }

  /** CRC32C of each fixture's encoded block. */
  private val pinnedCrcs = Map(
    "constant" -> 0x9d11a5bdL,
    "low-card dict" -> 0x09aba33bL,
    "code-text fsst" -> 0xfefdffeaL,
    "dict->fsst cascade" -> 0x3122a783L,
    "hex40" -> 0x03660847L,
    "empties mixed" -> 0xa0246768L,
    "65536 rows" -> 0xe46d8231L,
    "65537 rows" -> 0x1d76635dL,
    "null placeholders" -> 0x9e67ad23L,
    "depth 0" -> 0xcfd1362cL,
    "depth 1" -> 0xf311034fL)

  test("string encode bytes are pinned (slices path and array entry point)") {
    val got = pinFixtures.map { case (name, depth, v) =>
      val c = cfg.copy(maxCascadeDepth = depth)
      val bytes = v.map(_.getBytes(UTF_8))
      val b = new StrSlicesBuilder()
      bytes.foreach(b.add)
      val out = new BufWriter()
      StringCodec.encodeSlices(out, b.result(), depth, c)
      val viaSlices = crc32c(out.result())
      assert(crc32c(StringCodec.encode(bytes, c)) == viaSlices, s"$name: array entry point bytes differ")
      name -> viaSlices
    }
    val changed = got.filter { case (name, crc) => !pinnedCrcs.get(name).contains(crc) }
    assert(changed.isEmpty,
      "encoded bytes changed: " + changed.map { case (n, c) => f"$n -> 0x$c%08xL" }.mkString(", "))
  }

  // ------------------------------------------------------------- cascading

  test("dict->fsst cascade on low-card long strings") {
    val paths = Array.tabulate(64)(i => s"src/main/scala/com/example/project/module$i/Service$i.scala")
    val rnd = new scala.util.Random(37)
    val v = Array.fill(50000)(paths(rnd.nextInt(paths.length)))
    rtString(v)
    val enc = StringCodec.encode(v.map(_.getBytes(UTF_8)), cfg)
    val desc = StringCodec.describeBlock(enc)
    assert(desc.startsWith("Dict"), desc)
  }
}
