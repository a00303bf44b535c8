package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.functions.{Metadata, Text, Vectors}

/** Unit tests for the function library: D1 metadata goldens, D5 dedup
  * estimator sanity, D6 LSH recall vs brute force.
  */
class FunctionsSpec extends AnyFunSuite {
  import SharedSpark._

  // --- D1 metadata sniffing goldens (synthetic magic-byte fixtures) ---

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(24)
    b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
    b.array()
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    // SOI + APP0 (16 bytes) + SOF0 with dims + EOI
    val b = java.nio.ByteBuffer.allocate(64)
    b.put(Array(0xff, 0xd8).map(_.toByte))
    b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16).put(new Array[Byte](14))
    b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(11).put(8.toByte)
      .putShort(h.toShort).putShort(w.toShort)
    b.put(Array(0xff, 0xd9).map(_.toByte))
    b.array()
  }

  private def gifBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
    b.array()
  }

  private def wavBytes(rate: Int, channels: Int, bits: Int, dataBytes: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(rate)
      .putInt(rate * channels * bits / 8) // byte rate
      .putShort((channels * bits / 8).toShort) // block align
      .putShort(bits.toShort)
    b.put("data".getBytes).putInt(dataBytes).put(new Array[Byte](dataBytes))
    b.array()
  }

  private def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("BM".getBytes).putInt(54).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h)
    b.array()
  }

  test("D1: WAV fmt/data chunk walk yields rate, channels, bits, duration") {
    // 1 second of 16-bit stereo at 8 kHz = 32000 data bytes
    val m = Metadata.sniff(wavBytes(rate = 8000, channels = 2, bits = 16, dataBytes = 32000))
    assert(m("mime") == "audio/wav")
    assert(m("sample_rate") == "8000" && m("channels") == "2" && m("bits") == "16")
    assert(m("duration_ms") == "1000")
  }

  test("D1: corrupt WAV chunk size >= 2^31 terminates (no loop/AIOOBE)") {
    // RIFF/WAVE header + one chunk claiming size 0xFFFFFFF8: the Int
    // truncation of that size used to step the walk 0/negative
    val b = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
    b.put("junk".getBytes).putInt(0xFFFFFFF8)
    val m = Metadata.sniff(b.array())
    assert(m("mime") == "audio/wav") // and sniff() returned at all
  }

  test("D1: BMP dims incl. top-down (negative height) form") {
    val m = Metadata.sniff(bmpBytes(800, 600))
    assert(m("mime") == "image/bmp" && m("width") == "800" && m("height") == "600")
    val td = Metadata.sniff(bmpBytes(800, -600))
    assert(td("height") == "600")
  }

  test("D1: TIFF IFD walk in both endiannesses; SHORT and LONG value types") {
    def tiffBytes(w: Int, h: Int, le: Boolean, shortType: Boolean): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(64)
        .order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      if (le) b.put('I'.toByte).put('I'.toByte).put(0x2a.toByte).put(0.toByte)
      else b.put('M'.toByte).put('M'.toByte).put(0.toByte).put(0x2a.toByte)
      b.putInt(8) // IFD offset
      b.putShort(2) // 2 entries
      val typ = if (shortType) 3 else 4
      def entry(tag: Int, v: Int): Unit = {
        b.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
        if (shortType) { b.putShort(v.toShort); b.putShort(0) } else b.putInt(v)
      }
      entry(256, w); entry(257, h)
      b.putInt(0) // next-IFD terminator
      b.array()
    }
    for (le <- Seq(true, false); st <- Seq(true, false)) {
      val m = Metadata.sniff(tiffBytes(1920, 1080, le, st))
      assert(m("mime") == "image/tiff" && m("width") == "1920" &&
        m("height") == "1080", s"le=$le shortType=$st: $m")
    }
  }

  test("D1: FLAC STREAMINFO bit-unpacking (rate, channels, bits, duration)") {
    // "fLaC" + STREAMINFO block (type 0, 34 bytes): big-endian packed
    // sample rate (20 bits), channels-1 (3), bits-per-sample-1 (5),
    // total samples (36) — 44.1 kHz stereo 16-bit, 441000 samples = 10 s
    def flacBytes(rate: Int, channels: Int, bits: Int, total: Long): Array[Byte] = {
      val b = new Array[Byte](4 + 4 + 34)
      b(0) = 'f'; b(1) = 'L'; b(2) = 'a'; b(3) = 'C'
      b(4) = 0x80.toByte // last-block flag + type 0 (STREAMINFO)
      b(5) = 0; b(6) = 0; b(7) = 34
      val p = 8
      b(p + 10) = (rate >> 12).toByte
      b(p + 11) = ((rate >> 4) & 0xff).toByte
      b(p + 12) = (((rate & 0xf) << 4) | ((channels - 1) << 1) |
        ((bits - 1) >> 4)).toByte
      b(p + 13) = ((((bits - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte
      b(p + 14) = ((total >> 24) & 0xff).toByte
      b(p + 15) = ((total >> 16) & 0xff).toByte
      b(p + 16) = ((total >> 8) & 0xff).toByte
      b(p + 17) = (total & 0xff).toByte
      b
    }
    val m = Metadata.sniff(flacBytes(44100, 2, 16, 441000L))
    assert(m("mime") == "audio/flac" && m("sample_rate") == "44100" &&
      m("channels") == "2" && m("bits") == "16" &&
      m("total_samples") == "441000" && m("duration_ms") == "10000", m.toString)
    // mono 8-bit at 8 kHz, 36-bit total-sample overflow path
    val m2 = Metadata.sniff(flacBytes(8000, 1, 8, 0xF00000000L))
    assert(m2("channels") == "1" && m2("bits") == "8" &&
      m2("sample_rate") == "8000" &&
      m2("total_samples") == 0xF00000000L.toString, m2.toString)
  }

  test("D1: EXIF orientation from the TIFF blob inside JPEG APP1") {
    // SOI + APP1("Exif\0\0" + little TIFF with orientation=6) + SOF0 + EOI
    val tiff = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).put(0x2a.toByte).put(0.toByte)
    tiff.putInt(8).putShort(1)
    tiff.putShort(274).putShort(3).putInt(1).putShort(6).putShort(0)
    tiff.putInt(0)
    val t = tiff.array()
    val b = java.nio.ByteBuffer.allocate(2 + 4 + 6 + t.length + 13 + 2)
    b.put(Array(0xff, 0xd8).map(_.toByte))
    b.put(Array(0xff, 0xe1).map(_.toByte)).putShort((2 + 6 + t.length).toShort)
    b.put("Exif".getBytes).put(0.toByte).put(0.toByte).put(t)
    b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(11).put(8.toByte)
      .putShort(480.toShort).putShort(640.toShort)
    b.put(Array(0xff, 0xd9).map(_.toByte))
    val m = Metadata.sniff(b.array())
    assert(m("mime") == "image/jpeg" && m("orientation") == "6")
    assert(m("width") == "640" && m("height") == "480")
  }

  test("D1: WebP dims across VP8X, VP8L, and lossy VP8 payloads") {
    def riffWebp(chunk: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(20 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(12 + payload.length).put("WEBP".getBytes)
      b.put(chunk.getBytes).putInt(payload.length).put(payload)
      b.array()
    }
    // VP8X: 4 flag bytes then 24-bit LE (w-1, h-1)
    val x = new Array[Byte](10)
    val (xw, xh) = (4000 - 1, 3000 - 1)
    x(4) = (xw & 0xff).toByte; x(5) = ((xw >> 8) & 0xff).toByte
    x(6) = ((xw >> 16) & 0xff).toByte
    x(7) = (xh & 0xff).toByte; x(8) = ((xh >> 8) & 0xff).toByte
    x(9) = ((xh >> 16) & 0xff).toByte
    val mx = Metadata.sniff(riffWebp("VP8X", x))
    assert(mx("mime") == "image/webp" && mx("width") == "4000" && mx("height") == "3000")
    // VP8L: 0x2f then 14+14 bits (w-1, h-1)
    val v = (639) | (479 << 14)
    val l = Array[Byte](0x2f.toByte, (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val ml = Metadata.sniff(riffWebp("VP8L", l))
    assert(ml("width") == "640" && ml("height") == "480")
    // VP8 lossy: 3-byte frame tag, 0x9d012a start code, 14-bit u16 dims
    val p = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    p.put(new Array[Byte](3)).put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte)
    p.putShort(320.toShort).putShort(240.toShort)
    val mv = Metadata.sniff(riffWebp("VP8 ", p.array()))
    assert(mv("width") == "320" && mv("height") == "240")
  }

  test("D1: PNG dimensions from IHDR") {
    val m = Metadata.sniff(pngBytes(640, 480))
    assert(m("mime") == "image/png" && m("width") == "640" && m("height") == "480")
  }

  test("D1: JPEG dimensions from SOF0 marker walk") {
    val m = Metadata.sniff(jpegBytes(1024, 768))
    assert(m("mime") == "image/jpeg" && m("width") == "1024" && m("height") == "768")
  }

  test("D1: GIF little-endian dims, PDF magic, text, binary fallback") {
    val g = Metadata.sniff(gifBytes(320, 200))
    assert(g("mime") == "image/gif" && g("width") == "320" && g("height") == "200")
    assert(Metadata.sniff("%PDF-1.7".getBytes)("mime") == "application/pdf")
    assert(Metadata.sniff("hello wörld".getBytes("UTF-8"))("mime") == "text/plain")
    assert(Metadata.sniff(Array[Byte](0, 1, 2))("mime") == "application/octet-stream")
  }

  test("D1: sniff works distributed as a UDF over a binary column") {
    import spark.implicits._
    val df = Seq(pngBytes(10, 20), jpegBytes(30, 40)).toDF("content")
    val got = df.select(element_at(Metadata.sniffUdf(col("content")), "mime"))
      .as[String].collect().toSet
    assert(got == Set("image/png", "image/jpeg"))
  }

  // --- D5 dedup sanity ---

  test("D5: minhash estimate tracks exact jaccard for near-dups") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"
    val far = (100 to 160).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, shingleWidth = 3, numHashes = 16,
      rowsPerBand = 2, minEstJaccard = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = Dedup.ngramJaccardPairs(docs, shingleWidth = 3, minJaccard = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)))
  }

  test("D5: shingle df-cap prunes hot-shingle buckets without touching real near-dups") {
    import spark.implicits._
    // every doc shares the same stop-shingle phrase; only docs 1 and 2
    // are genuinely near-identical. Uncapped, the stop-shingle joins all
    // pairs through its bucket; capped at df<=2 it is dropped and the
    // true near-dup pair survives on its distinctive shingles.
    val stop = "the quick brown fox"
    val docs = (1L to 6L).map { i =>
      val body =
        if (i <= 2) (1 to 30).map(j => s"dup$j").mkString(" ")
        else (1 to 30).map(j => s"doc${i}tok$j").mkString(" ")
      (i, s"$stop $body")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, shingleWidth = 3,
      minJaccard = 0.5, maxShingleDf = 2L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)))
    // and with the cap the inverted index contains no shingle with df > 2
    val sh = docs.select(col("doc_id"),
        explode(Text.shingles(Text.tokenize(col("text")), 3)).as("s"))
      .distinct().groupBy("s").count()
    assert(sh.filter(col("count") > 2).count() > 0) // hot shingles exist uncapped
  }

  test("D5: exact dedup keeps min-id row per distinct content") {
    import spark.implicits._
    val docs = Seq((5L, "aa"), (3L, "aa"), (9L, "bb")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 9L))
  }

  test("D5: connected components closes pair chains transitively") {
    import spark.implicits._
    // two chains (1-2, 2-3, 3-4) and (10-11), plus 20-21 disjoint; a
    // never-paired node (99) must NOT appear — singletons stay out of the
    // iteration and are assigned by the caller's left join
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("D5: connected components converges on a long path (diameter >> 2)") {
    import spark.implicits._
    // path 1-2-3-...-12: min label must walk 11 hops end to end
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(comp.length == 12 && comp.forall(_._2 == 1L))
  }

  test("D5e: large-star/small-star closes a LONG path within its log bound") {
    import spark.implicits._
    // path 1-2-...-40 (diameter 39): min-label propagation needs ~39
    // rounds; the star algorithm must finish inside maxIter = 8 ~ log^2
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponentsLogStar(edges, maxIter = 8)
      .as[(Long, Long)].collect()
    assert(comp.length == 40 && comp.forall(_._2 == 1L))
  }

  test("D5e: star variant agrees with min-label propagation exactly") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L),
      (7L, 8L), (8L, 6L), (30L, 33L), (33L, 31L), (31L, 32L))
      .toDF("a", "b")
    val a = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val b = Dedup.connectedComponentsLogStar(edges).as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(b(32L) == 30L && b(6L) == 6L) // min-id roots
  }

  test("D5g: substring-dedup islands are hash-agnostic (md5 vs xxhash64 keys)") {
    import spark.implicits._
    // the 100 TB valve: xxhash64 gram keys (8 bytes on the shuffle) must
    // produce EXACTLY the islands the oracle-portable md5 keys produce
    val docs = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).limit(150)
    val a = Dedup.duplicatedSpans(docs, n = 8, portableHash = true)
    val b = Dedup.duplicatedSpans(docs, n = 8, portableHash = false)
    assert(a.count() > 0, "fixture must contain cross-doc duplicated spans")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("D5: per-row minhash signature is bit-identical to the batch aggregate") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val docs = t.documents.select(col("doc_id"), col("text")).limit(100)
    val batch = Dedup.minhashSignatures(docs, shingleWidth = 3, numHashes = 8)
    val perRow = docs.select(col("doc_id"),
        Dedup.minhashSigRow(col("text"), 3, 8).as("sig"))
      .filter(col("sig").isNotNull)
    assert(batch.except(perRow).isEmpty && perRow.except(batch).isEmpty)
    assert(perRow.count() > 0)
  }

  test("D5: simhashes (shift-mask votes) is bit-identical to simhash32 (digit-parity fold)") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val docs = t.documents.select(col("doc_id"), col("text")).limit(100)
    val corpus = Dedup.simhashes(docs)
    val perRow = docs.select(col("doc_id"),
      Dedup.simhash32(Text.tokenize(col("text"))).as("simhash"))
      .filter(org.apache.spark.sql.functions.size(Text.tokenize(col("text"))) > 0)
    assert(corpus.count() == 100)
    assert(corpus.except(perRow).isEmpty && perRow.except(corpus).isEmpty)
  }

  test("D5: simhash of near-identical token sets has small hamming distance") {
    import spark.implicits._
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = (1 to 48).map(i => s"w$i").mkString(" ") + " q r"
    val c = (200 to 250).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhash32(Text.tokenize(col("text"))).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("A9: GK sketch-refined quantiles equal the exact discrete percentiles") {
    import spark.implicits._
    // the refine pass must land exactly on the ceil(q*n)-rank order
    // statistic — recompute it directly and compare value for value
    val got = SparkEntry.queries("a9_approx_quantiles")(spark, sf)
      .select("flag", "p50", "p95").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val li = graft.sources.Tables(spark, sf).lineitem
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
    val want = li.groupBy(col("flag"))
      .agg(collect_list(col("x")).as("xs"))
      .as[(String, Seq[Double])].collect()
      .map { case (f, xs) =>
        val s = xs.sorted
        def pick(q: Double) = s(math.ceil(q * s.length).toLong.toInt - 1)
        f -> (pick(0.5), pick(0.95))
      }.toMap
    assert(got == want, s"refined quantiles diverge: $got vs $want")
  }

  // --- D6 LSH recall ---

  test("D6: multi-table sign-LSH has usable top-1 recall vs brute force") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val e = t.embeddings.cache()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    // brute-force top-1 per query
    val brute = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .groupBy("q_id").agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    // 8 tables x 4 planes: P(miss) = (1 - p^4)^8, exponentially small in
    // table count for correlated vectors
    def keyed(df: org.apache.spark.sql.DataFrame, id: String, emb: String) =
      df.select(col(id), col(emb),
        explode(Vectors.lshTables(col(emb), 4, 8)).as("b"))
    val qb = keyed(q, "q_id", "qe")
    val cb = keyed(c, "c_id", "ce")
    val lsh = cb.join(broadcast(qb), "b")
      .select(col("q_id"), col("c_id"), Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .distinct()
      .groupBy("q_id").agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    e.unpersist()
    val recall = brute.count { case (k, v) => lsh.get(k).contains(v) }.toDouble / brute.size
    assert(recall >= 0.5, s"LSH top-1 recall $recall too low")
  }

  test("D6: production near-dup (LSH candidates + exact rerank) vs exact pairs") {
    import spark.implicits._
    // the production operator must return a SUBSET of the exact >= 0.45
    // pairs (precision 1.0 — the rerank is exact) with usable recall
    val exact = SparkEntry.queries("d5_embedding_neardup")(spark, sf)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val prod = SparkEntry.queries("d5_embedding_neardup_lsh")(spark, sf)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(prod.subsetOf(exact),
      s"LSH near-dup produced pairs outside the exact set: ${prod -- exact}")
    if (exact.nonEmpty) {
      val recall = prod.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH near-dup recall $recall too low ($prod of $exact)")
    }
  }

  test("D5: SemDeDup keep rule matches an independent driver-side recompute") {
    import spark.implicits._
    val out = SparkEntry.queries("d5_semdedup")(spark, sf)
      .select(col("vec_id"), col("cluster"), col("kept"))
      .as[(Long, Int, Int)].collect()
    val emb = graft.sources.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    // ascending-index accumulation = the same strict left fold as
    // Vectors.cosineFast, so the threshold compare cannot diverge
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).sorted }
    out.foreach { case (v, c, kept) =>
      val expected =
        !byCluster(c).exists(u => u < v && cos(emb(u), emb(v)) >= 0.45)
      assert(kept == (if (expected) 1 else 0),
        s"vec $v in cluster $c: kept=$kept, recompute says $expected")
    }
    assert(out.exists(_._3 == 0), "SemDeDup dropped nothing — threshold inert")
  }

  test("D11: DSIR importance weights match an independent driver-side recompute") {
    import spark.implicits._
    val out = SparkEntry.queries("d11_dsir_select")(spark, sf)
      .select(col("doc_id"), col("lang"), col("weight"), col("selected"))
      .as[(Long, String, Double, Int)].collect()
    val docs = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(bg: String): Long = {
      val hex = md.digest(bg.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 256
    }
    val perDoc = docs.map { case (id, lang, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val buckets = toks.sliding(2).filter(_.length == 2)
        .map(p => bucket(p(0) + " " + p(1))).toSeq
      (id, lang, buckets)
    }.filter(_._3.nonEmpty)
    val cR = perDoc.flatMap(_._3).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val cT = perDoc.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val nR = cR.values.sum; val nT = cT.values.sum
    val lr = cR.map { case (b, r) =>
      b -> BigDecimal(math.log(
        ((cT.getOrElse(b, 0L) + 1L) * (nR + 256L)).toDouble /
          ((r + 1L) * (nT + 256L)).toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = perDoc.map { case (id, _, bs) => id -> bs.map(lr).sum }.toMap
    out.foreach { case (id, _, w, sel) =>
      val e = expected(id)
      // the query emits round(wsum, 4); mirror it before comparing
      val e4 = e.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(w - e4) < 1e-9, s"doc $id: weight $w vs recompute $e")
      assert(sel == (if (e > 0) 1 else 0), s"doc $id: selected=$sel, wsum=$e")
    }
    // DSIR directionality: the target slice must score higher than the rest
    val en = out.filter(_._2 == "en").map(_._3); val rest = out.filter(_._2 != "en").map(_._3)
    assert(en.sum / en.length > rest.sum / rest.length,
      "target-language docs do not outscore the rest — importance ratio inert")
    assert(out.exists(_._4 == 1) && out.exists(_._4 == 0),
      "selection did not split the corpus")
  }

  test("D6: int8-quantized shortlist + exact rerank recovers the exact top-1") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val e = t.embeddings.cache()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    val brute = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .groupBy("q_id").agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    // stage 1: integer dot of int8-quantized normalized vectors, top-40
    val qq = q.select(col("q_id"),
      Vectors.quantizeInt8(Vectors.normalized(col("qe"))).as("qv"))
    val cq = c.select(col("c_id"),
      Vectors.quantizeInt8(Vectors.normalized(col("ce"))).as("cv"))
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("c_id").asc)
    val shortlist = cq.crossJoin(broadcast(qq))
      .select(col("q_id"), col("c_id"), Vectors.dotInt(col("qv"), col("cv")).as("qdot"))
      .withColumn("rn1", org.apache.spark.sql.functions.row_number().over(w1))
      .filter(col("rn1") <= 40).select(col("q_id"), col("c_id"))
    // stage 2: exact cosine on re-fetched vectors
    val reranked = shortlist.join(c, "c_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"), Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .groupBy("q_id").agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    e.unpersist()
    val recall = brute.count { case (k, v) => reranked.get(k).contains(v) }.toDouble / brute.size
    assert(recall >= 0.9, s"quantized-rerank top-1 recall $recall too low")
  }

  test("D6: int8 quantization bounds values to [-127,127] and max hits 127") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0f, 0f, 0f)))
      .toDF("id", "v")
      .select(col("id"), Vectors.quantizeInt8(col("v")).as("q"))
    val m = df.as[(Long, Seq[Long])].collect().toMap
    assert(m(1L) == Seq(64L, -127L, 32L)) // 0.5/1.0*127=63.5 -> floor(+.5)=64
    assert(m(2L) == Seq(0L, 0L, 0L)) // zero vector guard
  }

  test("D6: IVF probe search has usable top-1 recall vs brute force") {
    import spark.implicits._
    val e = graft.sources.Tables(spark, sf).embeddings.cache()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    val brute = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .groupBy("q_id").agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    val cents = graft.functions.Ivf.train(e, k = 8, iters = 2)
    val ivf = graft.functions.Ivf.index(e.filter(col("vec_id") >= 10), cents)
    val got = graft.functions.Ivf.search(ivf, cents, q, nProbe = 3, topK = 1)
      .select(col("q_id"), col("vec_id"))
      .as[(Long, Long)].collect().toMap
    e.unpersist()
    val recall = brute.count { case (k, v) => got.get(k).contains(v) }.toDouble / brute.size
    assert(recall >= 0.5, s"IVF top-1 recall $recall too low")
  }

  test("Layout: z-order key round-trips both dimensions and clusters files") {
    import spark.implicits._
    val pts = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val df = pts.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.Layout.zValue(col("a"), col("b"), 16).as("z"))
    // bijective on the grid; unz recovers both dimensions exactly
    assert(df.select("z").distinct().count() == 64 * 64)
    assert(df.filter(
      graft.functions.Layout.unzA(col("z"), 16) =!= col("a") ||
        graft.functions.Layout.unzB(col("z"), 16) =!= col("b")).isEmpty)
    // layout property: range-partition the grid by z into 16 buckets —
    // every bucket must span far less than the full 64-wide range in
    // BOTH dimensions (single-column sort spans the full range in the
    // other dimension; z-order bounds both)
    val spans = df.repartitionByRange(16, col("z"))
      .select(spark_partition_id().as("p"), col("a"), col("b"))
      .groupBy("p")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .as[(Int, Long, Long)].collect()
    assert(spans.forall { case (_, sa, sb) => sa <= 32 && sb <= 32 },
      s"z-order buckets span too much: ${spans.mkString(",")}")
  }

  test("A6: per-source HLL sketches union to the direct global estimate") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val docs = t.documents
    val exact = docs.select(countDistinct(col("doc_id"))).as[Long].head()
    // merged: independent per-source sketches, then one union
    val merged = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .as[Long].head()
    // direct: one global sketch over the same stream
    val direct = docs.agg(hll_sketch_estimate(hll_sketch_agg(col("doc_id"))))
      .as[Long].head()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged HLL estimate $merged vs exact $exact")
    assert(math.abs(merged - direct).toDouble / math.max(direct, 1) < 0.05,
      s"union-of-parts $merged diverges from direct $direct")
  }

  test("A6: count-min sketch frequency estimates bound true counts from above") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val events = t.events.select(col("event_type"))
    val exact = events.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    // one aggregate pass builds the mergeable sketch (eps=1%, conf=99%)
    val bytes = events
      .agg(expr("count_min_sketch(event_type, 0.01d, 0.99d, 42)"))
      .collect().head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    exact.foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      // CMS never undercounts; overcount bounded by eps * total
      assert(est >= c, s"$k undercounted: $est < $c")
      assert(est <= c + (0.01 * n).toLong + 1, s"$k overcounted: $est vs $c (n=$n)")
    }
  }

  test("A6: approx_count_distinct lands within its rsd of the exact count") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val row = t.orders.agg(
      countDistinct(col("o_custkey")).as("exact"),
      approx_count_distinct(col("o_custkey"), 0.05).as("hll")).head()
    val (exact, hll) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(hll - exact) / exact < 0.15,
      s"HLL $hll vs exact $exact beyond tolerance")
  }

  test("D6: power iteration converges and dominates every coordinate axis") {
    val t = graft.sources.Tables(spark, sf)
    val e = t.embeddings.cache()
    // the synthetic embeddings are near-isotropic (degenerate top
    // eigenspace), so the DIRECTION may wander inside the top cluster —
    // the meaningful convergent is the Rayleigh quotient (energy): the
    // eigenvalue estimate must stabilize and dominate every coordinate
    // axis. (That near-equality of energies IS the diagnostic: it says
    // the corpus has no collapsed dominant direction.)
    val v6 = graft.functions.Pca.dominantDirection(e, "embedding", 64, iters = 12)
    val v8 = graft.functions.Pca.dominantDirection(e, "embedding", 64, iters = 20)
    val lam6 = graft.functions.Pca.energy(e, "embedding", v6)
    val lam8 = graft.functions.Pca.energy(e, "embedding", v8)
    assert(math.abs(lam8 - lam6) / lam8 < 0.05,
      s"eigenvalue estimate not stable: $lam6 vs $lam8")
    assert(lam8 >= lam6 - 1e-9, "Rayleigh quotient must be non-decreasing")
    (0 until 64 by 8).foreach { i =>
      val axis = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
      val le = graft.functions.Pca.energy(e, "embedding", axis)
      assert(lam8 >= le - 1e-9, s"axis $i energy $le exceeds principal $lam8")
    }
    e.unpersist()
  }

  test("J12: literal Bloom join reduction — zero false negatives, bounded FPs") {
    import spark.implicits._
    import graft.functions.BloomLite
    val members = (0L until 2000L).map(_ * 7 + 3)
    val f = BloomLite.build(members.toDF("k"), "k")
    // no false negatives: every member passes the probe
    val fn = members.toDF("k")
      .filter(!BloomLite.mightContain(f, col("k"))).count()
    assert(fn == 0L)
    // false positives stay near the theoretical (1-e^(-kn/m))^k ≈ 4%
    val nonMembers = (1L to 20000L).map(_ * 1000003 + 17)
    val fp = nonMembers.toDF("k")
      .filter(BloomLite.mightContain(f, col("k"))).count()
    assert(fp < 20000 * 0.10, s"fp rate ${fp / 20000.0}")
    // the join-reduction contract: filter-then-join == plain join
    val fact = (0L until 30000L).map(i => (i % 4000, i)).toDF("k", "v")
    val dim = members.toDF("k")
    val reduced = fact.filter(BloomLite.mightContain(f, col("k")))
      .join(dim, "k").agg(count(lit(1)), sum("v")).head()
    val plain = fact.join(dim, "k").agg(count(lit(1)), sum("v")).head()
    assert(reduced == plain)
  }

  test("D5: prefix-filtered Jaccard join equals the full index join (lossless)") {
    import spark.implicits._
    // near-dup families + a HOT shingle shared by every doc: the full
    // index join pairs everything through the hot posting list; the
    // prefix filter must still find exactly the same >= t pairs
    val fam = (0 until 6).map { f =>
      val base = (0 until 12).map(i => s"tok${f}_$i").mkString(" ")
      Seq((f * 10L, s"common filler words $base"),
        (f * 10L + 1, s"common filler words $base extra"))
    }.flatten
    val docs = fam.toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val pref = Dedup.jaccardPairsPrefix(docs, 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pref == full && full.nonEmpty)
    // jaccard values agree pairwise, not just the pair set
    val fullJ = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    Dedup.jaccardPairsPrefix(docs, 3, 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .foreach { case (a, b, j) => assert(fullJ((a, b)) == j) }
  }

  test("D10: CDC chunking re-syncs after an insertion; fixed-width does not") {
    import spark.implicits._
    import graft.queries.TextOps
    val rnd = new scala.util.Random(7)
    val base = (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // insert 3 chars near the front: every byte offset after position 20 shifts
    val edited = base.substring(0, 20) + "XYZ" + base.substring(20)
    val docs = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
    val ch = TextOps.cdcChunks(docs)
      .select($"doc_id", $"chunk_md5").as[(Long, String)].collect()
    val origIds = ch.filter(_._1 == 0L).map(_._2).toSet
    val editIds = ch.filter(_._1 == 1L).map(_._2).toSet
    // content-defined boundaries depend only on the local 16-char window,
    // so chunks strictly after the edit keep their identity despite the
    // global offset shift — the majority of chunks must re-share
    val shared = (origIds intersect editIds).size
    assert(shared >= origIds.size - 3,
      s"CDC re-shared only $shared of ${origIds.size} chunks")
    // the fixed-width chunker (stride 50) loses everything after the edit
    val fixedIds = docs.select($"doc_id",
      explode(sequence(lit(1), length($"text"), lit(50))).as("s"))
      .join(docs, "doc_id")
      .select($"doc_id", md5($"text".substr($"s", lit(50))).as("m"))
      .as[(Long, String)].collect()
    val fOrig = fixedIds.filter(_._1 == 0L).map(_._2).toSet
    val fEdit = fixedIds.filter(_._1 == 1L).map(_._2).toSet
    assert((fOrig intersect fEdit).size <= 1)
    // determinism + coverage: chunks tile the doc exactly
    val spans = TextOps.cdcChunks(docs).filter($"doc_id" === 0L)
      .select($"start_pos", $"chunk_len").as[(Long, Long)].collect().sortBy(_._1)
    assert(spans.head._1 == 1L && spans.map(_._2).sum == base.length)
    spans.sliding(2).foreach {
      case Array((s1, l1), (s2, _)) => assert(s2 == s1 + l1)
      case _ =>
    }
  }

  test("J13: JaroWinkler matches DuckDB-verified constants and its own codegen") {
    import spark.implicits._
    import graft.plans.JaroWinklerImpl.similarity
    // constants cross-checked against DuckDB jaro_winkler_similarity
    assert(similarity("martha", "marhta") == 0.9611111111111111)
    assert(similarity("dixon", "dicksonx") == 0.8133333333333332)
    assert(similarity("jellyfish", "smellyfish") == 0.8962962962962964)
    assert(similarity("duane", "dwayne") == 0.8400000000000001)
    assert(similarity("abcdxxxx", "bcadxxxx") == 0.9583333333333334) // 3-cycle: t = 3/2 = 1
    assert(similarity("CRANE", "CAINE") == 0.88)
    assert(similarity("", "") == 0.0 && similarity("abc", "") == 0.0)
    assert(similarity("abc", "abc") == 1.0)
    assert(similarity("ab", "ba") == 0.0) // window 0: no matches
    assert(similarity("abcdxxxxxx", "abcdyyyyyy") == 0.6) // jaro <= 0.7: no boost
    // symmetry + range on random strings
    val rnd = new scala.util.Random(11)
    def rs() = (0 until 1 + rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
    (0 until 500).foreach { _ =>
      val (a, b) = (rs(), rs())
      val s = similarity(a, b)
      assert(s == similarity(b, a) && s >= 0.0 && s <= 1.0, s"$a/$b")
      if (a == b) assert(s == 1.0)
    }
    // the Column path agrees with the static method, through generated
    // code and through interpreted eval alike; plus empty, unicode and
    // NULL edges
    val pairs = (0 until 2000).map(_ => (rs(), rs())) ++
      Seq(("", ""), ("abc", ""), ("aé𝄞b", "aé𝄞c"), (null, "x"))
    val viaDf = EvalPaths.rows(EvalPaths.nonLocal(pairs.toDF("a", "b"))
      .select(graft.functions.Text.jaroWinkler(col("a"), col("b"))))
    pairs.zip(viaDf).foreach {
      case ((null, _), r) => assert(r.isNullAt(0))
      case ((a, b), r) => assert(r.getDouble(0) == similarity(a, b), s"$a/$b")
    }
    // and it is registered for SQL via GraftExtensions
    val viaSql = spark.sql("SELECT jaro_winkler('martha', 'marhta')").head().getDouble(0)
    assert(viaSql == 0.9611111111111111)
  }

  test("D7: quantile normalization makes different-scale sources comparable") {
    import spark.implicits._
    import graft.queries.TextOps
    // source A scores 1..20, source B scores 101..120: same shape, wildly
    // different absolute scales — a global threshold would keep all of B
    // and none of A. After normalization both must map onto the SAME
    // pooled quantile values (identical multisets).
    val docs = ((1 to 20).map(i => (i.toLong, "A", i)) ++
      (1 to 20).map(i => (100L + i, "B", 100 + i))).toDF("doc_id", "source", "score")
    val out = TextOps.quantileNormalize(docs)
      .select($"source", $"score", $"norm_score")
      .as[(String, Int, Int)].collect()
    val a = out.filter(_._1 == "A").sortBy(_._2).map(_._3)
    val b = out.filter(_._1 == "B").sortBy(_._2).map(_._3)
    assert(a.toSeq == b.toSeq, "equal-rank docs must normalize identically")
    // extremes map to the pooled extremes; mapping is monotone in score
    assert(a.head == 1 && a.last == 120)
    assert(a.toSeq == a.sorted.toSeq)
    // singleton source maps to the pooled median index
    val one = TextOps.quantileNormalize(
      (docs.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
        :+ ((999L, "C", 7))).toDF("doc_id", "source", "score"))
      .filter($"source" === "C").select($"norm_score").as[Int].head()
    assert(one == 20, s"singleton source mapped to $one") // pidx 21 of 41 -> pooled value 20
  }

  test("A6: HLL inclusion-exclusion intersection stays inside its envelope") {
    val row = SparkEntry.queries("a6_hll_intersect")(spark, SharedSpark.sf).head()
    val (ea, eb, eu) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (both, exact) = (row.getLong(3), row.getLong(4))
    assert(row.getBoolean(5), s"est_both=$both exact=$exact")
    // sketch algebra sanity: union dominates each side, intersection
    // bounded by the smaller side
    assert(eu >= math.max(ea, eb) && both <= math.min(ea, eb) && both >= 0)
    assert(exact > 0)
  }

  test("D6: cosine is 1 for identical vectors, 0 for zero vector") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f), Array(0.0f, 0.0f)))
      .toDF("a", "b", "z")
    val row = df.select(
      round(Vectors.cosine(col("a"), col("b")), 6),
      Vectors.cosine(col("a"), col("z"))).head()
    assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 0.0)
  }

  test("D7: deflatedLen is real zlib — round-trips, separates entropy, deterministic") {
    import spark.implicits._
    val boiler = "the same line of boilerplate over and over. " * 40
    val varied = (1 to 200).map(i => s"tok${i * 7919 % 1001}x${i}").mkString(" ")
    val df = Seq((1L, boiler), (2L, varied)).toDF("id", "text")
    val out = df.select(col("id"), Text.deflatedLen(col("text")).as("z"),
      length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (zb, nb) = out(1L); val (zv, nv) = out(2L)
    // repetitive text compresses much harder than high-entropy text
    assert(zb.toDouble / nb < 0.10, s"boilerplate ratio ${zb.toDouble / nb}")
    assert(zv.toDouble / nv > 0.30, s"varied ratio ${zv.toDouble / nv}")
    // the UDF's count is REAL compression: the same deflate stream
    // inflates back to the original bytes at exactly that length
    val d = new java.util.zip.Deflater(9)
    d.setInput(boiler.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](1 << 16)
    val m = d.deflate(buf); d.end()
    assert(m.toLong == zb)
    val inf = new java.util.zip.Inflater()
    inf.setInput(buf, 0, m)
    val back = new Array[Byte](boiler.getBytes("UTF-8").length)
    assert(inf.inflate(back) == back.length &&
      new String(back, "UTF-8") == boiler)
    inf.end()
    // deterministic across invocations (the query is re-runnable)
    val again = df.select(Text.deflatedLen(col("text"))).collect().map(_.getLong(0)).toSet
    assert(again == Set(zb, zv))
  }
}
