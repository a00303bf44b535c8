package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Canon._
import graft.functions.{Text, Vectors}
import graft.sources.Tables
import graft.Materialize.{CutSyntax, Iter, Shared}

/** Text-analysis surface over the documents corpus — SURVEY.md §2.9
  * D2/D3/D7 + the LLM-pipeline mandate (language-ID, quality scoring,
  * token counting, fingerprinting).
  *
  * Everything is a pure Column expression (no UDFs), so the whole module
  * runs inside whole-stage codegen and every query is reproducible in the
  * DuckDB oracle. Full-text search is the engine-native replacement for
  * the reference's out-of-band Solr delegation (DMS.py:345-356): an
  * inverted postings DataFrame + TF-IDF scoring.
  */
object TextOps {

  /** One oracle text, TWO hash-checked legs: the live `d3_search_bm25`
    * (tokenize at query time) and `d3_search_bm25_persisted` (plans
    * from the parquet index `graft.functions.TextIndex.writeIndex`
    * wrote) — identical output proves index persistence is transparent,
    * exactly like the d5_lsh_persisted / d5_minhash_pairs twin. */
  private lazy val bm25OracleSql =
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |postings AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
            |stats AS (SELECT avg(dlen) AS avgdl,
            |                 (SELECT count(*) FROM documents) AS n FROM dl)
            |SELECT p.doc_id,
            |  round(sum(
            |    ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
            |    * (p.tf * 2.2)
            |    / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
            |  ), 4) AS bm25
            |FROM postings p
            |JOIN (SELECT term, count(*) AS df FROM postings GROUP BY 1) d USING (term)
            |JOIN dl USING (doc_id) CROSS JOIN stats
            |WHERE p.term IN ('spark', 'window', 'shuffle')
            |GROUP BY p.doc_id
            |ORDER BY bm25 DESC, doc_id ASC
            |LIMIT 20""".stripMargin)

  private val toksCte =
    """toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     x -> x <> '') AS tokens
      |  FROM documents
      |)""".stripMargin

  val all: Seq[Q] = snippetQ +: kAnonymityQ +: lDiversityQ +: fertilityQ +: dataCardQ +: vocabCoverageQ +: sourceReportQ +: boilerplateQ +: sourceOverlapQ +: booleanQ +: proximityQ +: charEntropyQ +: bpeQs ++: oovQ +: qlQ +: readabilityQ +: keywordsQ +: stopwordQ +: prfExpandQ +: hybridRrfQ +: cmsEstimateQ +:
    skewProfileQ +: quantileNormQ +: pmiAssocQ +: Seq(
    Q(
      "d7_zipf_fit",
      // Zipf's-law fit over the corpus unigram distribution — the
      // token-frequency health diagnostic (natural text slopes ≈ −1;
      // template spam and tokenizer bugs bend it): OLS slope/intercept of
      // ln(freq) on ln(rank), EXACT-hash-checked despite being a float
      // regression. The trick is the centered integer form: per-term
      // ln's are rounded once to 6dp and scaled to BIGINTs, then
      // slope = Σ(n·xi−Σx)(n·yi−Σy) / Σ(n·xi−Σx)² — the n factors
      // cancel against the classic nΣxy−ΣxΣy form — so numerator and
      // denominator are exact DECIMAL sums of exact integer products,
      // order-independent, and each engine does ONE double division at
      // the end (the D7k exact-products-cast-once discipline). 100 TB
      // shape: one corpus scan to the term-frequency aggregate, then
      // everything — the ranking window included — rides the
      // vocab-bounded relation; the stats join is a 1-row broadcast.
      Some(s"""WITH $toksCte,
              |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
              |tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY 1),
              |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS rank
              |      FROM tf),
              |xy AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS xi,
              |              CAST(round(ln(tf) * 1000000) AS BIGINT) AS yi
              |       FROM r),
              |s AS (SELECT count(*) AS n, sum(xi) AS sx, sum(yi) AS sy FROM xy),
              |c AS (SELECT CAST(s.n * xy.xi - s.sx AS DECIMAL(14,0)) AS xc,
              |             CAST(s.n * xy.yi - s.sy AS DECIMAL(14,0)) AS yc
              |      FROM xy CROSS JOIN s),
              |agg AS (SELECT sum(xc * yc) AS num, sum(xc * xc) AS den FROM c)
              |SELECT s.n AS n_terms,
              |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope,
              |       round((CAST(sy AS DOUBLE)
              |              - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
              |                * CAST(sx AS DOUBLE))
              |             / (1000000.0 * s.n), 6) AS intercept
              |FROM agg CROSS JOIN s
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val tf = t.documents
          .select(explode(Text.tokenize(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        // ranking window over the REDUCED vocab relation (same discipline
        // as d7_quantile_norm's pooled CDF), not the token stream
        val ranked = tf.withColumn("rank",
          row_number().over(Window.orderBy(col("tf").desc, col("term").asc)))
        val xy = ranked.select(
          round(log(col("rank")) * lit(1000000d)).cast("long").as("xi"),
          round(log(col("tf")) * lit(1000000d)).cast("long").as("yi"))
          .cut(Shared) // feeds both the stats row and the centering
        val s = xy.agg(count(lit(1)).as("n"),
          sum(col("xi")).as("sx"), sum(col("yi")).as("sy"))
        val c = xy.crossJoin(broadcast(s))
          .select((col("n") * col("xi") - col("sx")).cast("decimal(14,0)").as("xc"),
            (col("n") * col("yi") - col("sy")).cast("decimal(14,0)").as("yc"))
        val agg = c.agg(sum(col("xc") * col("yc")).as("num"),
          sum(col("xc") * col("xc")).as("den"))
        ordered(
          agg.crossJoin(broadcast(s))
            .select(col("n").as("n_terms"),
              round(col("num").cast("double") / col("den").cast("double"), 6)
                .as("slope"),
              round((col("sy").cast("double")
                - col("num").cast("double") / col("den").cast("double")
                  * col("sx").cast("double"))
                / (lit(1000000d) * col("n")), 6).as("intercept"))
        )
      }
    ),
    Q(
      "d7_compression_ratio",
      // Compressibility quality gate (the RefinedWeb/Gopher signal):
      // deflate-compressed length over raw length per doc — template spam
      // and boilerplate near-dups compress far below natural text, so a
      // low ratio is a drop signal no token statistic catches. zlib has
      // no SQL twin, so this is a declared rows-only query; the
      // FunctionsSpec laws pin that the UDF is REAL compression
      // (inflate round-trips, repetitive text compresses much harder
      // than high-entropy text) and deterministic. 100 TB shape: one
      // narrow scan, per-row CPU, no shuffle before the final order —
      // the same profile as the other d7 gates.
      None,
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents.select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            Text.deflatedLen(col("text")).as("z_len"))
            .withColumn("ratio",
              round(col("z_len").cast("double") / col("n_chars"), 4))
            .withColumn("low_entropy", col("ratio") < 0.35)
        )
      }
    ),
    Q(
      "d7_compression_golden",
      // The hash-checkable face of the deflate gate: four LITERAL inputs
      // constructed by the same SQL in both engines (a repeated token, a
      // repeated pangram, a single-char run, and a 2048-hex-char md5
      // chain as the high-entropy case), deflated by the real zlib UDF.
      // DuckDB has no deflate, so the compressed lengths are GOLDEN
      // CONSTANTS (zlib level 9, default strategy — frozen since zlib
      // 1.x) while the raw lengths and the md5-chain text itself are
      // genuinely recomputed by the oracle, pinning both the input
      // construction and the compressor byte-for-byte. Corpus-independent
      // by design: testdata regeneration cannot rot the goldens. The
      // corpus-wide rows-only twin is d7_compression_ratio; its
      // round-trip/determinism laws live in FunctionsSpec.
      Some("""WITH g AS (
             |  SELECT * FROM (VALUES
             |    ('md5_chain',   CAST(1153 AS BIGINT)),
             |    ('pangram_x40', CAST(68 AS BIGINT)),
             |    ('run_a_1000',  CAST(17 AS BIGINT)),
             |    ('spark_x200',  CAST(24 AS BIGINT))) AS v(name, z_len)
             |),
             |t AS (
             |  SELECT 'md5_chain' AS name,
             |         list_reduce([md5(CAST(i AS VARCHAR)) FOR i IN range(0, 64)],
             |                     (acc, x) -> acc || x) AS txt
             |  UNION ALL
             |  SELECT 'pangram_x40',
             |         repeat('the quick brown fox jumps over the lazy dog. ', 40)
             |  UNION ALL SELECT 'run_a_1000', repeat('a', 1000)
             |  UNION ALL SELECT 'spark_x200', repeat('spark ', 200)
             |)
             |SELECT t.name, CAST(length(t.txt) AS BIGINT) AS raw_len, g.z_len,
             |       round(CAST(g.z_len AS DOUBLE) / length(t.txt), 4) AS ratio
             |FROM t JOIN g USING (name)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val base = spark.range(1).select(explode(array(
          struct(lit("md5_chain").as("name"),
            expr("aggregate(transform(sequence(0, 63), " +
              "i -> md5(cast(i as string))), '', (acc, x) -> concat(acc, x))")
              .as("txt")),
          struct(lit("pangram_x40").as("name"),
            expr("repeat('the quick brown fox jumps over the lazy dog. ', 40)")
              .as("txt")),
          struct(lit("run_a_1000").as("name"), expr("repeat('a', 1000)").as("txt")),
          struct(lit("spark_x200").as("name"), expr("repeat('spark ', 200)").as("txt"))
        )).as("s")).select(col("s.name").as("name"), col("s.txt").as("txt"))
        ordered(
          base.select(col("name"), length(col("txt")).cast("long").as("raw_len"),
            Text.deflatedLen(col("txt")).cast("long").as("z_len"))
            .withColumn("ratio",
              round(col("z_len").cast("double") / col("raw_len"), 4)))
      }
    ),
    Q(
      "a6_heavy_hitters",
      // Two-pass exact heavy hitters: pass 1 sketches candidates with a
      // Misra-Gries aggregate (k=256 counters — fixed memory, one buffer
      // per partition on the shuffle, NOT the token stream); pass 2
      // recounts ONLY the candidates exactly and filters by the true
      // threshold n/50. MG guarantees no false negatives above n/257, so
      // the two-pass answer EQUALS the exact HAVING the oracle runs —
      // sketch nondeterminism (merge order) cannot leak into the result.
      Some(s"""WITH $toksCte,
              |tok AS (SELECT unnest(tokens) AS term FROM toks)
              |SELECT term, count(*) AS cnt
              |FROM tok
              |GROUP BY term
              |HAVING count(*) * 50 > (SELECT count(*) FROM tok)
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val mg = udaf(new graft.functions.MisraGries(256),
          org.apache.spark.sql.Encoders.STRING)
        val toks = t.documents
          .select(explode(Text.tokenize(col("text"))).as("term"))
        // pass 1: candidates + the exact total in ONE aggregate
        val pass1 = toks.agg(mg(col("term")).as("cand"), count(lit(1)).as("n"))
          .select(explode(col("cand")).as("term"), col("n")) // ≤ k rows
        ordered(
          toks.join(broadcast(pass1), "term") // candidates prune the recount
            .groupBy(col("term"), col("n"))
            .agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") * 50 > col("n")) // integer math: engine-exact
            .select(col("term"), col("cnt"))
        )
      }
    ),
    Q(
      "a6_heavy_hitters_stream",
      // T13 oracle closure: the SAME two-pass heavy-hitters answer, but
      // with pass 1's candidate set produced by the STREAMING sharded
      // Misra-Gries sketch (Streams.heavyHittersStream) instead of the
      // batch aggregate — the corpus replays through a file stream, the
      // final per-shard snapshots are unioned, and pass 2 recounts the
      // candidates exactly. Because every term's full count lives in one
      // shard and count > n/50 ≥ n_shard/50 > n_shard/(k+1) (k=64), a
      // true heavy hitter can never be evicted from its shard — so the
      // streamed candidate set has no false negatives and the exact
      // recount + integer threshold reproduces the oracle's HAVING
      // verbatim, hash-checkable despite sketch merge-order
      // nondeterminism. This upgrades the parity SPEC to an oracle row.
      Some(s"""WITH $toksCte,
              |tok AS (SELECT unnest(tokens) AS term FROM toks)
              |SELECT term, count(*) AS cnt
              |FROM tok
              |GROUP BY term
              |HAVING count(*) * 50 > (SELECT count(*) FROM tok)
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val t = Tables(spark, dir)
        val toks = t.documents
          .select(explode(Text.tokenize(col("text"))).as("term"))
        // replay the corpus as a stream through the sharded MG sketch
        val sterms = spark.readStream.schema(t.documents.schema)
          // documents.parquet may be a single FILE (the generator's
          // layout); the file-stream source needs a directory-rooted
          // GLOB, not a bare file path — `documents.*` keeps the glob
          // prefix (= the directory) as the stream's base path
          .parquet(s"$dir/documents.*")
          .select(explode(Text.tokenize(col("text"))).as("term")).as[String]
        val sink = s"hh_stream_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
        graft.streaming.Streams.runToMemory(
          graft.streaming.Streams.heavyHittersStream(sterms).toDF(), sink,
          org.apache.spark.sql.streaming.OutputMode.Update())
        val wShard = Window.partitionBy(col("shard")).orderBy(col("gen").desc)
        val cands = spark.table(sink)
          .withColumn("rn", row_number().over(wShard))
          .filter(col("rn") === 1) // latest snapshot per shard
          .select(explode(col("terms")).as("term"))
          .distinct() // ≤ shards·k rows — broadcastable by construction
        val total = toks.agg(count(lit(1)).as("n"))
        ordered(
          toks.join(broadcast(cands), "term")
            .groupBy(col("term"))
            .agg(count(lit(1)).as("cnt"))
            .crossJoin(broadcast(total)) // 1-row total
            .filter(col("cnt") * 50 > col("n"))
            .select(col("term"), col("cnt"))
        )
      }
    ),
    Q(
      "d7_lm_score",
      // CCNet-style LM quality scoring: train an add-one-smoothed bigram
      // model ON the corpus (counts + vocab size — the "LM table", bounded
      // by bigram TYPES, not corpus size), then score every document by
      // its mean log-probability. Two-pass at 100 TB: pass 1 aggregates
      // the LM table (map-side combine on (w1,w2)), pass 2 joins doc
      // bigrams to the table by term — hash joins on reduced relations,
      // never a vocab² materialization. Per-bigram ln(p) is rounded to
      // DECIMAL(20,12) BEFORE the per-doc sum, so the mean is an exact
      // decimal sum / count — order-independent, hash-checkable.
      Some(s"""WITH $toksCte,
              |big AS (
              |  SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2
              |  FROM toks CROSS JOIN UNNEST(range(1, len(tokens))) AS t(i)
              |),
              |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY w1, w2),
              |c1 AS (
              |  SELECT term AS w1, count(*) AS n1
              |  FROM (SELECT unnest(tokens) AS term FROM toks) GROUP BY term
              |),
              |v AS (SELECT count(DISTINCT term) AS vocab
              |      FROM (SELECT unnest(tokens) AS term FROM toks)),
              |scored AS (
              |  SELECT b.doc_id,
              |         CAST(round(ln((CAST(n2 AS DOUBLE) + 1.0)
              |                       / (CAST(n1 AS DOUBLE) + CAST(vocab AS DOUBLE))), 12)
              |              AS DECIMAL(20,12)) AS lp
              |  FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
              |)
              |SELECT doc_id, count(*) AS n_bigrams,
              |       round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS lm_score
              |FROM scored GROUP BY doc_id
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // no widen: measured net LOSS here (1.47 → 2.57 s) — the bigram
        // explode is light per row and the extra exchange + 32-task
        // stages cost more than the parallelism buys (contrast the
        // shingle+hash dedup paths, where per-row compute dominates)
        val toks = t.documents.select(col("doc_id"),
          Text.tokenize(col("text")).as("tokens"))
        // bigrams straight from the token array — no join, no shuffle
        val big = toks.select(col("doc_id"),
          explode(expr("""transform(sequence(1, size(tokens) - 1),
            i -> struct(element_at(tokens, i) AS w1,
                        element_at(tokens, i + 1) AS w2))""")).as("bg"))
          .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
        val uni = toks.select(explode(col("tokens")).as("term"))
        val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
        val c1 = uni.groupBy(col("term").as("w1t")).agg(count(lit(1)).as("n1"))
        val v = uni.agg(countDistinct(col("term")).as("vocab"))
        val lp = round(
          log((col("n2").cast("double") + 1.0) /
            (col("n1").cast("double") + col("vocab").cast("double"))), 12)
          .cast("decimal(20,12)")
        ordered(
          big.join(c2, Seq("w1", "w2"))
            .join(c1, col("w1") === col("w1t"))
            .crossJoin(broadcast(v)) // 1-row vocab scalar
            .select(col("doc_id"), lp.as("lp"))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_bigrams"),
              round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("lm_score"))
        )
      }
    ),
    Q(
      "d2_tokenize_tf",
      // corpus term/document frequencies — the postings backbone
      Some(s"""WITH $toksCte,
              |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks)
              |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
              |FROM tok GROUP BY term
              |HAVING count(*) >= 20
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // two-level aggregate instead of count + countDistinct in one:
        // the mixed form makes Catalyst Expand every row 2x for the
        // distinct rewrite; per-(term, doc) counts then a plain rollup
        // gives tf = sum(c), df = count(*) with no row multiplication
        ordered(
          t.documents
            .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
            .groupBy(col("term"), col("doc_id"))
            .agg(count(lit(1)).as("c"))
            .groupBy(col("term"))
            .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
            .filter(col("tf") >= 20)
        )
      }
    ),
    Q(
      "d3_search_tfidf",
      // full-text search: score = sum over query terms of tf * ln(N/df),
      // top 20 by score — the Solr replacement (DMS.py:345-356)
      Some(s"""WITH $toksCte,
              |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
              |postings AS (
              |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
              |),
              |dfreq AS (
              |  SELECT term, count(*) AS df FROM postings GROUP BY 1
              |),
              |n AS (SELECT count(*) AS n_docs FROM documents),
              |scored AS (
              |  SELECT p.doc_id,
              |         sum(p.tf * ln(n.n_docs * 1.0 / d.df)) AS score
              |  FROM postings p
              |  JOIN dfreq d ON p.term = d.term
              |  CROSS JOIN n
              |  WHERE p.term IN ('spark', 'window', 'shuffle')
              |  GROUP BY p.doc_id
              |)
              |SELECT doc_id, round(score, 4) AS score
              |FROM scored
              |ORDER BY score DESC, doc_id ASC
              |LIMIT 20""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val queryTerms = Seq("spark", "window", "shuffle")
        // postings materialized ONCE: they feed both the score join and
        // dfreq — without the cut the corpus is re-tokenized per consumer
        // (at scale this is the persisted inverted index)
        val postings = t.documents
          .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .cut(Shared)
        val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
        postings
          .filter(col("term").isin(queryTerms: _*))
          .join(broadcast(dfreq), "term")
          .crossJoin(broadcast(nDocs))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf") * log(col("n_docs").cast("double") / col("df"))).as("score"))
          .select(col("doc_id"), r4(col("score")).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
      }
    ),
    Q(
      "d3_search_phrase",
      // phrase search ("table hash") over POSITIONAL postings: a doc
      // matches where the terms sit at adjacent positions — the Solr
      // phrase-query capability the reference delegated (DMS.py:350).
      // Each side of the position join filters its term BEFORE joining,
      // so the join carries two term posting lists, not the corpus; at
      // scale both sides read a persisted positional postings table.
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> x <> '') AS tokens
             |  FROM documents
             |),
             |pos AS (
             |  SELECT doc_id, i AS pos, tokens[i] AS term
             |  FROM toks, LATERAL (SELECT unnest(range(1, len(tokens) + 1)) AS i)
             |)
             |SELECT a.doc_id, count(*) AS n_hits
             |FROM pos a JOIN pos b
             |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |WHERE a.term = 'table' AND b.term = 'hash'
             |GROUP BY a.doc_id
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val pos = t.documents.select(col("doc_id"),
          posexplode(Text.tokenize(col("text"))).as(Seq("pos", "term")))
        val a = pos.filter(col("term") === "table")
          .select(col("doc_id"), col("pos").as("pa"))
        val b = pos.filter(col("term") === "hash")
          .select(col("doc_id").as("db"), col("pos").as("pb"))
        ordered(
          a.join(b, col("doc_id") === col("db") && col("pb") === col("pa") + 1)
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_hits"))
        )
      }
    ),
    Q(
      "d3_search_bm25",
      // BM25 ranking (k1=1.2, b=0.75) — the production-grade D3 scorer:
      // idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf saturation + doc
      // length normalization. Same postings backbone as d3_search_tfidf.
      bm25OracleSql,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val queryTerms = Seq("spark", "window", "shuffle")
        // ONE tokenize pass: postings are materialized and every other
        // relation derives from them — dfreq by term, and doc length as
        // sum(tf) per doc (identical to counting the raw tokens)
        val postings = t.documents
          .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .cut(Shared)
        val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
        val nDocs = t.documents.agg(count(lit(1)).as("n"))
        val stats = dl.agg(avg(col("dlen")).as("avgdl")).crossJoin(nDocs)
        val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
        val score = idf * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dlen") / col("avgdl")))
        postings
          .filter(col("term").isin(queryTerms: _*))
          .join(broadcast(dfreq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .groupBy(col("doc_id"))
          .agg(r4(sum(score)).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc)
          .limit(20)
      }
    ),
    Q(
      "d3_search_bm25_persisted",
      // PERSISTED SEARCH BACKBONE (the d3 sibling of d5_lsh_persisted,
      // completing the third ingest-time artifact family after CBO
      // sketches and LSH signatures): TextIndex.writeIndex tokenizes the
      // corpus ONCE and writes postings/df/doclen/stats as parquet; the
      // BM25 query then plans FROM THE INDEX — term-filtered parquet
      // scans with pushed In(term,...) filters, zero tokenize at query
      // time (ScaleShapeSpec pins the plan: index scans only, the
      // documents parquet never appears). Output is bit-identical to the
      // live d3_search_bm25, so the same oracle hash-checks BOTH legs —
      // persistence is transparent, and ingest amortizes the tokenize
      // pass across every downstream search. The demo pays the index
      // write inside the query; production writes once per ingest.
      bm25OracleSql,
      (spark, dir) => {
        val t = Tables(spark, dir)
        // FIXED per-SF path (writeIndex overwrites): repeated sweeps
        // reuse one directory instead of leaking temp dirs; derived
        // from the canonical SF path, never hashCode (graft.IndexPaths)
        val idx = graft.IndexPaths.forSf("text", dir)
        graft.functions.TextIndex.writeIndex(
          t.documents.select(col("doc_id"), col("text")), idx)
        graft.functions.TextIndex.bm25(
          spark, idx, Seq("spark", "window", "shuffle"))
      }
    ),
    Q(
      "d3_bm25_index_incremental",
      // INCREMENTAL INDEX MAINTENANCE (round-12 VERDICT ask #5 — the
      // d5_incremental_lsh discipline applied to the text index): the
      // corpus is indexed WITHOUT one seventh of the documents, then
      // that held-out batch arrives as an ingest and
      // TextIndex.mergeBatch folds it in — tokenizing ONLY the batch,
      // anti-joining replaced postings by pushed doc_id, maintaining df
      // by term-delta arithmetic (never re-aggregating the vocabulary)
      // and re-folding stats from the doc-count-sized doclen. The BM25
      // query over the MERGED index hash-matches the full-rebuild
      // oracle — proving build(corpus∖batch) + merge(batch) ≡
      // writeIndex(corpus) bit-for-bit, i.e. index maintenance cost
      // rides batch size while queries stay exact. The demo pays
      // build + merge inside the query; production merges per ingest.
      bm25OracleSql,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val docs = t.documents.select(col("doc_id"), col("text"))
        val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        val idx = graft.IndexPaths.forSf("textinc", dir)
        // fresh base index each invocation (writeIndex overwrites), so
        // the merge is exercised — not a no-op over prior state
        graft.functions.TextIndex.writeIndex(
          docs.filter(pmod(col("doc_id"), lit(7)) =!= 0), idx)
        graft.functions.TextIndex.mergeBatch(spark, idx, batch)
        graft.functions.TextIndex.bm25(
          spark, idx, Seq("spark", "window", "shuffle"))
      }
    ),
    Q(
      "d3_bm25f",
      // BM25F — MULTI-FIELD ranking (Robertson/Zaragoza), the
      // Solr/Elasticsearch qf-boost capability d3_search_bm25 can't
      // express: a hit in the title outweighs the same hit in the body.
      // Fields are carved POSITIONALLY (title = the first 5 tokens, body
      // = the rest — the synthetic corpus has no sentence punctuation,
      // so a '.'-split would leave the body empty and the field
      // mechanism untested); the simple-BM25F form folds field boosts
      // INTO the term frequencies (wtf = 2·tf_title + 1·tf_body, dlen =
      // the same weighting of the lengths) and then saturates ONCE —
      // which is exactly why BM25F beats per-field BM25 summed:
      // saturation happens on the combined evidence. Same engine-exact
      // discipline as d3_search_bm25 (idf ln + one saturation ratio per
      // (doc, term), ≤3 term doubles summed per doc). 100 TB shape: the
      // weighted postings build is one union + hash aggregate (field
      // tag rides the token stream — no second corpus scan); df/dl
      // derive from the postings; query terms prune BEFORE the joins,
      // so the scored relation is hit-list-sized; top-20 is a
      // TakeOrderedAndProject, never a global sort.
      Some(s"""WITH $toksCte,
             |wtok AS (
             |  SELECT doc_id, unnest(tokens[1:5]) AS term, 2 AS w FROM toks
             |  UNION ALL
             |  SELECT doc_id, unnest(tokens[6:]) AS term, 1 AS w FROM toks
             |),
             |wp AS (SELECT doc_id, term, CAST(sum(w) AS BIGINT) AS wtf
             |       FROM wtok GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(wtf) AS BIGINT) AS dlen
             |       FROM wp GROUP BY 1),
             |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM wp GROUP BY 1),
             |stats AS (SELECT avg(dlen) AS avgdl,
             |                 (SELECT count(*) FROM documents) AS n FROM dl)
             |SELECT wp.doc_id,
             |  round(sum(
             |    ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
             |    * (wp.wtf * 2.2)
             |    / (wp.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
             |  ), 4) AS bm25f
             |FROM wp JOIN d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
             |WHERE wp.term IN ('spark', 'window', 'shuffle')
             |GROUP BY wp.doc_id
             |ORDER BY bm25f DESC, doc_id ASC
             |LIMIT 20""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val queryTerms = Seq("spark", "window", "shuffle")
        val f = t.documents.select(col("doc_id"),
          Text.tokenize(col("text")).as("tokens"))
        val wtok = f.select(col("doc_id"),
            explode(slice(col("tokens"), 1, 5)).as("term"), lit(2L).as("w"))
          .union(f.select(col("doc_id"),
            explode(expr("slice(tokens, 6, greatest(size(tokens) - 5, 0))"))
              .as("term"), lit(1L).as("w")))
        val wp = wtok.groupBy(col("doc_id"), col("term"))
          .agg(sum(col("w")).as("wtf"))
          .cut(Shared) // postings backbone: feeds df, dl, and scores
        val dfreq = wp.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val dl = wp.groupBy(col("doc_id")).agg(sum(col("wtf")).as("dlen"))
        val nDocs = t.documents.agg(count(lit(1)).as("n"))
        val stats = dl.agg(avg(col("dlen")).as("avgdl")).crossJoin(nDocs)
        val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
        val score = idf * (col("wtf") * 2.2) /
          (col("wtf") + lit(1.2) *
            (lit(1) - lit(0.75) + lit(0.75) * col("dlen") / col("avgdl")))
        wp.filter(col("term").isin(queryTerms: _*))
          .join(broadcast(dfreq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .groupBy(col("doc_id"))
          .agg(r4(sum(score)).as("bm25f"))
          .orderBy(col("bm25f").desc, col("doc_id").asc)
          .limit(20)
      }
    ),
    Q(
      "d7_text_stats",
      Some(s"""WITH $toksCte
              |SELECT d.lang, d.source, count(*) AS n_docs,
              |       round(avg(d.n_chars), 4) AS avg_chars,
              |       CAST(sum(len(t.tokens)) AS BIGINT) AS total_tokens
              |FROM documents d JOIN toks t USING (doc_id)
              |GROUP BY d.lang, d.source
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents
            .groupBy(col("lang"), col("source"))
            .agg(
              count(lit(1)).as("n_docs"),
              r4(avg(col("n_chars"))).as("avg_chars"),
              sum(size(Text.tokenize(col("text"))).cast("long")).as("total_tokens")
            )
        )
      }
    ),
    Q(
      "d7_token_counts",
      Some("""SELECT doc_id,
             |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      x -> x <> '')) AS ws_tokens,
             |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
             |    AS bpeish_tokens
             |FROM documents
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents.select(
            col("doc_id"),
            Text.tokenCount(col("text")).as("ws_tokens"),
            Text.bpeishTokenCount(col("text")).as("bpeish_tokens")
          )
        )
      }
    ),
    Q(
      "d7_lang_id",
      // n-gram/stopword language-ID heuristic; ties break by language
      // code ascending, no markers at all => 'und'
      Some(s"""WITH $toksCte,
              |langs AS (
              |  SELECT * FROM (VALUES
              |    ('de', ['der','die','und','das','ist']),
              |    ('en', ['the','and','of','to','a']),
              |    ('es', ['el','la','los','que','de']),
              |    ('fr', ['le','la','et','les','des']),
              |    ('zh', ['的','是','了','在','我'])
              |  ) AS v(lang, markers)
              |),
              |scores AS (
              |  SELECT t.doc_id, l.lang,
              |         len(list_filter(t.tokens, x -> list_contains(l.markers, x)))
              |           AS score
              |  FROM toks t CROSS JOIN langs l
              |),
              |best AS (
              |  SELECT doc_id, lang, score,
              |         row_number() OVER (PARTITION BY doc_id
              |                            ORDER BY score DESC, lang ASC) AS rn
              |  FROM scores
              |)
              |SELECT doc_id,
              |       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_id
              |FROM best WHERE rn = 1
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents.select(
            col("doc_id"),
            Text.langId(Text.tokenize(col("text"))).as("lang_id")
          )
        )
      }
    ),
    Q(
      "d7_quality_score",
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                x -> x <> '') AS toks,
             |    text
             |  FROM documents
             |), m AS (
             |  SELECT doc_id,
             |    CASE WHEN len(toks) > 0
             |         THEN len(array_to_string(toks, '')) * 1.0 / len(toks)
             |         ELSE 0.0 END AS mean_len,
             |    CASE WHEN len(text) > 0
             |         THEN (len(text) - len(regexp_replace(text, '[a-zA-Z ]', '', 'g')))
             |              * 1.0 / len(text)
             |         ELSE 0.0 END AS alpha_ratio,
             |    CASE WHEN len(toks) > 0
             |         THEN len(list_distinct(toks)) * 1.0 / len(toks)
             |         ELSE 0.0 END AS distinct_ratio
             |  FROM q
             |)
             |SELECT doc_id,
             |  floor(((CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
             |        * 0.3 + alpha_ratio * 0.4 + distinct_ratio * 0.3) * 10000 + 0.5)
             |    / 10000 AS quality
             |FROM m
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents.select(
            col("doc_id"),
            // floor(x*1e4 + 0.5)/1e4 instead of round(): Spark rounds via
            // exact BigDecimal, DuckDB via fp multiply — they disagree at
            // .5 boundaries; this form is pure IEEE ops, identical in both
            (floor(Text.qualityScore(col("text")) * 10000 + 0.5) / 10000).as("quality")
          )
        )
      }
    ),
    Q(
      "d9_pipeline_e2e",
      // capstone: the full training-data pipeline as ONE composed plan —
      // exact dedup (keeper = min id per sha over a corpus with planted
      // duplicates) -> language gate -> quality gate -> token-count gate
      // -> per-source stats. Every stage is an operator verified
      // individually above; this proves they compose into a single
      // Catalyst plan with no materialization between stages.
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, source, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000 AS doc_id, source, text FROM documents
              |  WHERE doc_id % 3 = 0
              |),
              |dedup AS (
              |  SELECT doc_id, source, text,
              |         row_number() OVER (PARTITION BY sha256(text)
              |                            ORDER BY doc_id) AS rn
              |  FROM corpus
              |),
              |kept AS (SELECT doc_id, source, text FROM dedup WHERE rn = 1),
              |feat AS (
              |  SELECT doc_id, source,
              |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                x -> x <> '') AS toks,
              |    text
              |  FROM kept
              |),
              |scored AS (
              |  SELECT doc_id, source, len(toks) AS n_tok,
              |    (CASE WHEN len(toks) > 0 AND
              |               len(array_to_string(toks, '')) * 1.0 / len(toks)
              |                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
              |    + (CASE WHEN len(text) > 0
              |            THEN (len(text) - len(regexp_replace(text, '[a-zA-Z ]', '', 'g')))
              |                 * 1.0 / len(text) ELSE 0.0 END) * 0.4
              |    + (CASE WHEN len(toks) > 0
              |            THEN len(list_distinct(toks)) * 1.0 / len(toks)
              |            ELSE 0.0 END) * 0.3 AS q
              |  FROM feat
              |)
              |SELECT source, count(*) AS n_docs,
              |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |       round(avg(q), 4) AS mean_quality
              |FROM scored
              |WHERE q >= 0.55 AND n_tok BETWEEN 10 AND 500
              |GROUP BY source
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val base = t.documents.select(col("doc_id"), col("source"), col("text"))
        val corpus = base.unionByName(
          base.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("source"), col("text")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
        val kept = corpus.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val scored = kept.select(col("source"),
          Text.tokenCount(col("text")).as("n_tok"),
          Text.qualityScore(col("text")).as("q"))
        ordered(
          scored
            .filter(col("q") >= 0.55 && col("n_tok").between(10, 500))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_tok").cast("long")).as("total_tokens"),
              r4(avg(col("q"))).as("mean_quality"))
        )
      }
    ),
    Q(
      "d9_pipeline_full",
      // the COMPLETE training-data pipeline as one Catalyst plan:
      // exact dedup (planted duplicates) -> token-count gate ->
      // deterministic stratified sample (md5 bucket < 50) -> window-50/
      // stride-40 chunking -> per-source chunk stats. Every stage is an
      // operator verified individually (d4, d7, d11, d10); this proves
      // they compose with no materialization between stages.
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, source, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000 AS doc_id, source, text FROM documents
              |  WHERE doc_id % 4 = 0
              |),
              |dedup AS (
              |  SELECT doc_id, source, text,
              |         row_number() OVER (PARTITION BY sha256(text)
              |                            ORDER BY doc_id) AS rn
              |  FROM corpus
              |),
              |kept AS (
              |  SELECT doc_id, source,
              |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                     x -> x <> '') AS tokens
              |  FROM dedup
              |  WHERE rn = 1
              |    AND (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              |         % 100) < 50
              |),
              |gated AS (
              |  SELECT doc_id, source, tokens FROM kept
              |  WHERE len(tokens) BETWEEN 10 AND 500
              |),
              |chunks AS (
              |  SELECT doc_id, source,
              |         len(tokens[s:s+49]) AS n_chunk_tok
              |  FROM (SELECT doc_id, source, tokens,
              |               unnest(range(1, len(tokens) + 1, 40)) AS s
              |        FROM gated)
              |)
              |SELECT source,
              |       count(*) AS n_chunks,
              |       count(DISTINCT doc_id) AS n_docs,
              |       CAST(sum(n_chunk_tok) AS BIGINT) AS total_chunk_tokens
              |FROM chunks GROUP BY source
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val base = t.documents.select(col("doc_id"), col("source"), col("text"))
        val corpus = base.unionByName(
          base.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("source"), col("text")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
        val bucket = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long"), lit(100L))
        val gated = corpus.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && bucket < 50)
          .select(col("doc_id"), col("source"),
            Text.tokenize(col("text")).as("tokens"))
          .filter(size(col("tokens")).between(10, 500))
        ordered(
          gated
            .select(col("doc_id"), col("source"), col("tokens"),
              explode(sequence(lit(1), size(col("tokens")), lit(40))).as("s"))
            .select(col("doc_id"), col("source"),
              size(slice(col("tokens"), col("s"), lit(50))).as("n_chunk_tok"))
            // two-level rollup instead of count(*) + countDistinct in one
            // aggregate: the mixed-distinct shape makes Catalyst Expand
            // every chunk row 2x before the shuffle (same rationale as
            // d1_term_stats / a6_approx_distinct)
            .groupBy(col("source"), col("doc_id"))
            .agg(count(lit(1)).as("doc_chunks"),
              sum(col("n_chunk_tok").cast("long")).as("doc_tokens"))
            .groupBy(col("source"))
            .agg(sum(col("doc_chunks")).as("n_chunks"),
              count(lit(1)).as("n_docs"),
              sum(col("doc_tokens")).as("total_chunk_tokens"))
        )
      }
    ),
    Q(
      "d9_pipeline_curation",
      // The round-6 CURATION capstone, one Catalyst plan end to end:
      // exact dedup (planted byte-dup copies) → benchmark DECONTAMINATION
      // (planted 'leakmark' eval leaks anti-joined away via broadcast
      // 8-gram probe) → token-count quality gate → Efraimidis–Spirakis
      // WEIGHTED sampling (P ∝ token count) → the curated sample, ranked.
      // Every stage is individually oracle-checked (d4, d12, d7, d11);
      // this proves they COMPOSE — no materialization between stages, one
      // deterministic plan, the planted dups and leaks verifiably gone
      // from the output.
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, source, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000 AS doc_id, source, text FROM documents
              |  WHERE doc_id % 4 = 0
              |  UNION ALL
              |  SELECT doc_id + 20000 AS doc_id, source,
              |         'leakmark ' || text AS text
              |  FROM documents WHERE doc_id % 41 = 0
              |),
              |dedup AS (
              |  SELECT doc_id, source, text,
              |         row_number() OVER (PARTITION BY sha256(text)
              |                            ORDER BY doc_id) AS rn
              |  FROM corpus
              |),
              |mdoc AS (
              |  SELECT doc_id, source,
              |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                     x -> x <> '') AS tokens
              |  FROM dedup
              |  WHERE rn = 1 AND doc_id % 41 <> 0
              |),
              |gated AS (
              |  SELECT doc_id, source, tokens FROM mdoc
              |  WHERE len(tokens) BETWEEN 10 AND 500
              |),
              |g AS (
              |  SELECT doc_id, unnest(range(1, len(tokens) - 6)) AS s, tokens
              |  FROM gated
              |),
              |grams AS (
              |  SELECT DISTINCT doc_id,
              |         md5(array_to_string(tokens[s:s+7], ' ')) AS gram
              |  FROM g
              |),
              |bt AS (
              |  SELECT doc_id,
              |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                     x -> x <> '') AS tokens
              |  FROM corpus WHERE doc_id % 41 = 0
              |),
              |bg AS (
              |  SELECT DISTINCT md5(array_to_string(tokens[s:s+7], ' ')) AS gram
              |  FROM (SELECT doc_id, unnest(range(1, len(tokens) - 6)) AS s, tokens
              |        FROM bt WHERE len(tokens) >= 8)
              |),
              |dirty AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (gram)),
              |clean AS (
              |  SELECT doc_id, source, len(tokens) AS n_tok FROM gated
              |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
              |),
              |pr AS (
              |  SELECT doc_id, source, n_tok,
              |         round(-ln((CAST(('0x' || substring(md5('ws:' || doc_id), 1, 12))
              |                         AS BIGINT) + 1) / 281474976710657.0), 12)
              |           / n_tok AS priority
              |  FROM clean
              |)
              |SELECT doc_id, source, n_tok, priority
              |FROM pr QUALIFY row_number() OVER (ORDER BY priority, doc_id) <= 60
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val base = t.documents.select(col("doc_id"), col("source"), col("text"))
        val corpus = base
          .unionByName(base.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("source"), col("text")))
          .unionByName(base.filter(col("doc_id") % 41 === 0)
            .select((col("doc_id") + 20000L).as("doc_id"), col("source"),
              concat(lit("leakmark "), col("text")).as("text")))
        val wsha = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
        val gated = corpus.withColumn("rn", row_number().over(wsha))
          .filter(col("rn") === 1 && col("doc_id") % 41 =!= 0)
          .select(col("doc_id"), col("source"),
            Text.tokenize(col("text")).as("tokens"))
          .filter(size(col("tokens")).between(10, 500))
        val grams = gated.select(col("doc_id"),
          explode(array_distinct(transform(
            Text.shingles(col("tokens"), 8), s => md5(s)))).as("gram"))
        val bench = corpus.filter(col("doc_id") % 41 === 0)
          .select(explode(array_distinct(transform(
            Text.shingles(Text.tokenize(col("text")), 8), s => md5(s))))
            .as("gram"))
          .distinct()
        val dirty = grams.join(broadcast(bench), Seq("gram"))
          .select(col("doc_id")).distinct()
        val u = (conv(substring(md5(concat(lit("ws:"), col("doc_id"))), 1, 12),
          16, 10).cast("long") + 1) / lit(281474976710657.0)
        ordered(
          gated.join(dirty, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("source"), size(col("tokens")).as("n_tok"))
            .withColumn("priority", round(-log(u), 12) / col("n_tok"))
            .orderBy(col("priority"), col("doc_id"))
            .limit(60)
        )
      }
    ),
    Q(
      "d7_fingerprint",
      // Karp–Rabin rolling-hash document fingerprint: strict left fold
      // acc*31 + ascii(char) mod 1e9+7 — identical fold in both engines
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text, '')]),
             |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
             |FROM documents
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        )
      }
    ),
    Q(
      "d7_normalize",
      // C4-style cleaning over a deterministically dirtied corpus (the
      // synthetic docs are already clean, so control chars + messy
      // whitespace are injected first): control-strip -> whitespace
      // collapse -> trim -> lowercase, pinned by md5 + length.
      Some("""WITH dirty AS (
             |  SELECT doc_id,
             |         '  ' || chr(9) || text || chr(7) || chr(13) ||
             |         chr(10) || '   trailing  ' || chr(11) AS text
             |  FROM documents
             |)
             |SELECT doc_id,
             |  length(lower(trim(regexp_replace(regexp_replace(text,
             |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
             |    '\s+', ' ', 'g')))) AS n_chars,
             |  md5(lower(trim(regexp_replace(regexp_replace(text,
             |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
             |    '\s+', ' ', 'g')))) AS clean_md5
             |FROM dirty
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val dirty = concat(lit("  \t"), col("text"), lit("\u0007\r\n   trailing  \u000b"))
        ordered(
          t.documents.select(col("doc_id"),
            length(Text.normalize(dirty)).as("n_chars"),
            md5(Text.normalize(dirty)).as("clean_md5"))
        )
      }
    ),
    Q(
      "d7_repetition_gates",
      // Gopher-style repetition filters: top-token fraction and duplicate
      // 2-gram fraction per doc, plus the keep verdict. The standard
      // "templated / boilerplate text" gate in training-data pipelines.
      Some(s"""WITH $toksCte,
              |tok AS (SELECT doc_id, unnest(tokens) AS t FROM toks
              |        WHERE len(tokens) >= 2),
              |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
              |top AS (SELECT doc_id, max(c) AS top_c,
              |               CAST(sum(c) AS BIGINT) AS n_tok
              |        FROM tc GROUP BY 1),
              |g2 AS (SELECT doc_id,
              |         [array_to_string(tokens[i:i+1], ' ')
              |          FOR i IN range(1, len(tokens))] AS grams
              |       FROM toks WHERE len(tokens) >= 2),
              |g2s AS (SELECT doc_id, len(grams) AS n2,
              |               len(list_distinct(grams)) AS d2 FROM g2)
              |SELECT t.doc_id, t.n_tok,
              |       t.top_c * 1.0 / t.n_tok AS top_tok_frac,
              |       1.0 - s.d2 * 1.0 / s.n2 AS dup_2gram_frac,
              |       (t.top_c * 1.0 / t.n_tok <= 0.1
              |        AND 1.0 - s.d2 * 1.0 / s.n2 <= 0.1) AS keep
              |FROM top t JOIN g2s s USING (doc_id)
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val toks = t.documents
          .select(col("doc_id"), Text.tokenize(col("text")).as("tokens"))
          .filter(size(col("tokens")) >= 2)
        val top = toks
          .select(col("doc_id"), explode(col("tokens")).as("t"))
          .groupBy(col("doc_id"), col("t"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
        val g2s = toks
          .select(col("doc_id"), Text.shingles(col("tokens"), 2).as("grams"))
          .select(col("doc_id"), size(col("grams")).as("n2"),
            size(array_distinct(col("grams"))).as("d2"))
        val topFrac = col("top_c") * 1.0 / col("n_tok")
        val dupFrac = lit(1.0) - col("d2") * 1.0 / col("n2")
        ordered(
          top.join(g2s, "doc_id")
            .select(col("doc_id"), col("n_tok"),
              topFrac.as("top_tok_frac"),
              dupFrac.as("dup_2gram_frac"),
              (topFrac <= 0.1 && dupFrac <= 0.1).as("keep"))
        )
      }
    ),
    Q(
      "d7_pii_scrub",
      // PII redaction over a deterministically augmented corpus (the raw
      // synthetic docs contain no PII, so emails/phones derived from the
      // doc id are appended first — redaction volume then varies per doc
      // and the scrubbed output is pinned by md5). RE2-safe patterns only.
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |         text || repeat(' contact u' || doc_id ||
             |                        '@example.com now', doc_id % 3)
             |              || repeat(' call +1 555 ' ||
             |                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
             |                        doc_id % 2) AS text
             |  FROM documents
             |)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\+1 555 [0-9]{4}')) AS BIGINT)
             |    AS n_phones,
             |  md5(regexp_replace(regexp_replace(text,
             |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |        '\+1 555 [0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
             |FROM aug
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val phoneRe = "\\+1 555 [0-9]{4}"
        val aug = t.documents.select(col("doc_id"),
          concat(col("text"),
            repeat(concat(lit(" contact u"), col("doc_id"), lit("@example.com now")),
              pmod(col("doc_id"), lit(3)).cast("int")),
            repeat(concat(lit(" call +1 555 "),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")),
              pmod(col("doc_id"), lit(2)).cast("int"))).as("text"))
        ordered(
          aug.select(col("doc_id"),
            regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("text"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("scrubbed_md5"))
        )
      }
    ),
    Q(
      "d10_chunking",
      // token-window chunking with overlap (window 50, stride 40): the
      // doc -> training-sample explosion every LLM data pipeline ends
      // with. Chunk identity is pinned by md5 of the joined tokens.
      Some(s"""WITH $toksCte,
              |starts AS (
              |  SELECT doc_id, tokens, unnest(range(1, len(tokens) + 1, 40)) AS s
              |  FROM toks WHERE len(tokens) >= 1 AND doc_id < 200
              |)
              |SELECT doc_id, CAST((s - 1) // 40 AS BIGINT) AS chunk_idx,
              |       len(tokens[s:s+49]) AS n_chunk_tok,
              |       md5(array_to_string(tokens[s:s+49], ' ')) AS chunk_md5
              |FROM starts
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val toks = t.documents
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), Text.tokenize(col("text")).as("tokens"))
          .filter(size(col("tokens")) >= 1)
        ordered(
          toks
            .select(col("doc_id"), col("tokens"),
              explode(sequence(lit(1), size(col("tokens")), lit(40))).as("s"))
            .select(col("doc_id"),
              ((col("s") - 1) / 40).cast("long").as("chunk_idx"),
              size(slice(col("tokens"), col("s"), lit(50))).as("n_chunk_tok"),
              md5(array_join(slice(col("tokens"), col("s"), lit(50)), " "))
                .as("chunk_md5"))
        )
      }
    ),
    Q(
      "d7_source_kl",
      // Source-mixture drift diagnostic: KL(P_source ‖ P_corpus) over
      // unigram token distributions — the standard check that one crawl
      // source's language diverges from the blend (and the knob behind
      // mixture re-weighting). Exact-hash-checked via the d7_lm_score
      // discipline: the ln argument is a ratio of exact BIGINT products
      // ((n_sw·N) / (N_s·n_w), all < 2^53 so the doubles are exact),
      // per-term ln is rounded to DECIMAL(20,12) BEFORE weighting, the
      // weight is the exact integer count n_sw (decimal × int stays
      // exact), and the single division by N_s happens once at the end.
      // 100 TB shape: everything rides (source, term) and (term)
      // aggregates with map-side partials — the vocab, not the corpus,
      // bounds every relation after the first scan.
      Some("""WITH toks AS (
             |  SELECT source,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> x <> '') AS tokens
             |  FROM documents
             |),
             |u AS (SELECT source, unnest(tokens) AS term FROM toks),
             |sw AS (SELECT source, term, count(*) AS n_sw FROM u GROUP BY 1, 2),
             |w AS (SELECT term, count(*) AS n_w FROM u GROUP BY 1),
             |s AS (SELECT source, count(*) AS n_s FROM u GROUP BY 1),
             |tot AS (SELECT count(*) AS n FROM u),
             |terms AS (
             |  SELECT sw.source, sw.n_sw,
             |         CAST(round(ln(CAST(sw.n_sw * tot.n AS DOUBLE)
             |                       / CAST(s.n_s * w.n_w AS DOUBLE)), 12)
             |              AS DECIMAL(20,12)) AS lr
             |  FROM sw JOIN w USING (term) JOIN s USING (source) CROSS JOIN tot
             |)
             |SELECT source, min(t2.n_s) AS n_tokens,
             |       round(CAST(sum(lr * n_sw) AS DOUBLE) / min(t2.n_s), 4)
             |         AS kl_divergence
             |FROM terms JOIN s t2 USING (source)
             |GROUP BY source
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val u = t.documents
          .select(col("source"), explode(Text.tokenize(col("text"))).as("term"))
        // ONE pass over the token stream; the marginals n_w, n_s and the
        // corpus total all roll up from the (source, term) relation —
        // bounded by sources × vocab, so it's materialized once
        // (localCheckpoint — plain exchange reuse can't fire because each
        // consumer prunes different columns) and the corpus is scanned
        // once, not four times
        val sw = u.groupBy(col("source"), col("term")).agg(count(lit(1)).as("n_sw"))
          .cut(Shared)
        val w = sw.groupBy(col("term")).agg(sum(col("n_sw")).as("n_w"))
        val s = sw.groupBy(col("source")).agg(sum(col("n_sw")).as("n_s"))
        val tot = s.agg(sum(col("n_s")).as("n"))
        val lr = round(
          log((col("n_sw") * col("n")).cast("double") /
            (col("n_s") * col("n_w")).cast("double")), 12)
          .cast("decimal(20,12)")
        ordered(
          sw.join(w, Seq("term"))
            .join(s, Seq("source"))
            .crossJoin(broadcast(tot)) // 1-row corpus total
            .select(col("source"), col("n_sw"), col("n_s"), lr.as("lr"))
            .groupBy(col("source"))
            .agg(min(col("n_s")).as("n_tokens"),
              round(sum(col("lr") * col("n_sw")).cast("double") /
                min(col("n_s")), 4).as("kl_divergence"))
        )
      }
    ),
    Q(
      "d10_cdc_chunking",
      // Content-defined chunking (the LBFS/FastCDC boundary rule applied
      // to corpus chunk-dedup): a position is a chunk boundary iff the
      // Karp-Rabin hash of the 16-char window ending there satisfies
      // h % 64 == 0 — the decision depends only on LOCAL content, so a
      // one-char edit shifts at most the two chunks it touches while
      // fixed-width chunking (d10_chunking) re-cuts the whole tail.
      // Chunk identity is md5 of the substring; n_dups counts how many
      // chunks corpus-wide share that identity — near-dup documents
      // (the d5_minhash_pairs planted pairs) re-share their unedited
      // chunks, which is the storage/dedup win CDC exists for. The
      // window hash is the d7_fingerprint fold (acc*31+ascii mod 1e9+7)
      // recomputed per position: O(16·n) per row, embarrassingly
      // parallel, no shuffle until the final dup-count/order. 100 TB
      // shape: the whole boundary+chunk derivation is narrow per-row
      // HOF compute inside codegen; only chunk ids (16-byte md5), not
      // chunk text, ride the dup-count exchange.
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         [CAST(ascii(c) AS BIGINT)
             |          FOR c IN list_filter(string_split(text, ''), c -> c <> '')] AS cs
             |  FROM documents WHERE length(text) >= 17
             |),
             |b AS (
             |  SELECT doc_id, text, len(cs) AS n,
             |         list_filter(range(16, len(cs)), i ->
             |           list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i-15:i]),
             |             (acc, x) -> (acc * 31 + x) % 1000000007) % 64 = 0) AS bs
             |  FROM d
             |),
             |sp AS (
             |  SELECT doc_id, text, n,
             |         list_prepend(CAST(1 AS BIGINT), [b + 1 FOR b IN bs]) AS ss,
             |         list_append(bs, n) AS es
             |  FROM b
             |),
             |ch AS (
             |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_idx,
             |         ss[i] AS start_pos,
             |         es[i] - ss[i] + 1 AS chunk_len,
             |         md5(substring(text, CAST(ss[i] AS INT),
             |                       CAST(es[i] - ss[i] + 1 AS INT))) AS chunk_md5
             |  FROM sp CROSS JOIN UNNEST(range(1, len(ss) + 1)) AS t(i)
             |)
             |SELECT doc_id, chunk_idx, start_pos, chunk_len, chunk_md5,
             |       count(*) OVER (PARTITION BY chunk_md5) AS n_dups
             |FROM ch
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          cdcChunks(t.documents).withColumn("n_dups",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("chunk_md5"))))
        )
      }
    )
  )

  private lazy val skewProfileQ = Q(
    "s13_skew_profile",
    // Shuffle-key skew profile: the log2 histogram of gram document
    // frequencies at shingle orders n=1,2,3 — the pre-flight diagnostic
    // behind every skew decision in this engine (the d5 hot-shingle df
    // valve, the j11 salt factor). Natural-language keys are Zipfian:
    // the n=1 head bucket concentrates most postings on a few hot
    // tokens, and widening the shingle order visibly collapses that
    // head — which is WHY the inverted-index joins block on 3-grams.
    // Exact integer log2 via length(bin(df))-1 (no float log at bucket
    // edges); postings_share is a ratio of exact BIGINTs rounded once.
    // 100 TB shape: one scan per gram order into a (n, gram) count
    // aggregate — the standard inverted-index df build — and the
    // histogram rollup is bounded by 3·64 buckets.
    Some(s"""WITH $toksCte,
            |sh AS (
            |  SELECT 1 AS n, doc_id, unnest(tokens) AS g FROM toks
            |  UNION ALL
            |  SELECT 2, doc_id, tokens[i] || ' ' || tokens[i+1]
            |  FROM toks CROSS JOIN UNNEST(range(1, len(tokens))) AS t(i)
            |  UNION ALL
            |  SELECT 3, doc_id, tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
            |  FROM toks CROSS JOIN UNNEST(range(1, len(tokens) - 1)) AS t(i)
            |),
            |df AS (SELECT n, g, count(DISTINCT doc_id) AS df FROM sh GROUP BY n, g),
            |h AS (
            |  SELECT n, CAST(length(bin(df)) - 1 AS INTEGER) AS log2_df,
            |         count(*) AS n_grams, CAST(sum(df) AS BIGINT) AS n_postings,
            |         min(df) AS min_df, max(df) AS max_df
            |  FROM df GROUP BY 1, 2
            |)
            |SELECT n, log2_df, n_grams, n_postings, min_df, max_df,
            |       round(CAST(n_postings AS DOUBLE) /
            |             CAST(sum(n_postings) OVER (PARTITION BY n) AS DOUBLE), 4)
            |         AS postings_share
            |FROM h
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val toks = t.documents.select(col("doc_id"),
        Text.tokenize(col("text")).as("tokens"))
      def grams(n: Int) = toks.select(lit(n).as("n"), col("doc_id"),
        explode(if (n == 1) col("tokens") else Text.shingles(col("tokens"), n)).as("g"))
      val df = grams(1).unionAll(grams(2)).unionAll(grams(3))
        .groupBy(col("n"), col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val h = df
        .groupBy(col("n"), (length(bin(col("df"))) - 1).cast("int").as("log2_df"))
        .agg(count(lit(1)).as("n_grams"), sum(col("df")).as("n_postings"),
          min(col("df")).as("min_df"), max(col("df")).as("max_df"))
      ordered(
        h.withColumn("postings_share",
          round(col("n_postings").cast("double") /
            sum(col("n_postings")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("n"))).cast("double"), 4))
      )
    }
  )

  private lazy val quantileNormQ = Q(
    "d7_quantile_norm",
    // Per-source QUANTILE NORMALIZATION — the calibration step before any
    // global quality gate: each source's score distribution is mapped
    // onto the pooled distribution (a doc at its source's p-th quantile
    // gets the pooled p-th-quantile value), so a global threshold cuts
    // every source at the same RELATIVE bar even when sources score on
    // different absolute scales. All-integer mapping: pooled index =
    // 1 + (rk-1)(N-1) div (ns-1) (floor division — no float at rank
    // boundaries, identical in both engines); the pooled value table
    // (one row per DISTINCT score, with its cumulative count) is
    // exploded into per-rank rows so the lookup is an EQUI-join on the
    // index — linear in corpus size, never a range join. 100 TB shape
    // (round-14: both legs de-globalized): the per-source rank rides
    // the GROUPED range-bucketed prefix sum (driver holds |sources|×B
    // offsets; tie ranks come from (source, score)-partitioned
    // windows), and the pooled CDF rides PrefixSum.cumOverDistinct —
    // no window anywhere partitioned by less than a range bucket.
    Some("""WITH s AS (
           |  SELECT doc_id, source, CAST(length(text) AS INTEGER) AS score
           |  FROM documents
           |),
           |r AS (
           |  SELECT doc_id, source, score,
           |         row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
           |         count(*) OVER (PARTITION BY source) AS ns
           |  FROM s
           |),
           |n AS (SELECT count(*) AS nt FROM s),
           |idx AS (
           |  SELECT doc_id, source, score,
           |         CASE WHEN ns = 1 THEN (nt + 1) // 2
           |              ELSE 1 + ((rk - 1) * (nt - 1)) // (ns - 1) END AS pidx
           |  FROM r CROSS JOIN n
           |),
           |pv AS (SELECT score AS pscore, count(*) AS cnt FROM s GROUP BY 1),
           |pc AS (
           |  SELECT pscore,
           |         unnest(range(CAST(cum - cnt + 1 AS BIGINT),
           |                      CAST(cum + 1 AS BIGINT))) AS pidx
           |  FROM (SELECT pscore, cnt,
           |               sum(cnt) OVER (ORDER BY pscore) AS cum FROM pv)
           |)
           |SELECT i.doc_id, i.source, i.score,
           |       CAST(p.pscore AS INTEGER) AS norm_score
           |FROM idx i JOIN pc p ON i.pidx = p.pidx
           |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      ordered(
        quantileNormalize(t.documents.select(col("doc_id"), col("source"),
          length(col("text")).as("score")))
      )
    }
  )

  private lazy val vocabCoverageQ = Q(
    "d2_vocab_coverage",
    // VOCABULARY COVERAGE CURVE — what vocab size covers what fraction of
    // the token stream? The sizing question every tokenizer build starts
    // with (coverage at k is why BPE vocabularies are 32k not 320k).
    // Terms are count-ranked with term tiebreak (the d2_oov_rate
    // discipline) so both engines rank identically; covered mass per
    // vocab size k is an exact BIGINT conditional sum over the RANKED
    // TERM relation, coverage one rounded division against the broadcast
    // total. 100 TB shape: corpus → term-count hash aggregate once; the
    // rank window and the 4-row k-grid cross join ride the vocab-bounded
    // term relation, never the corpus.
    Some(s"""WITH $toksCte,
            |tok AS (SELECT unnest(tokens) AS term FROM toks),
            |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
            |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tc),
            |r AS (SELECT term, c,
            |             CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS BIGINT) AS rk
            |      FROM tc),
            |g AS (SELECT unnest([10, 50, 100, 500]) AS k)
            |SELECT g.k,
            |       CAST(sum(CASE WHEN r.rk <= g.k THEN r.c ELSE 0 END) AS BIGINT) AS covered,
            |       tot.t AS total,
            |       round(sum(CASE WHEN r.rk <= g.k THEN r.c ELSE 0 END) * 1.0 / tot.t, 4)
            |         AS coverage
            |FROM g CROSS JOIN r CROSS JOIN tot
            |GROUP BY g.k, tot.t
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tc = t.documents
        .select(explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = tc.agg(sum(col("c")).as("t"))
      // unpartitioned rank rides the vocab-bounded term relation
      val r = tc.withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("term").asc)).cast("long"))
      val g = spark.range(0, 4).select(
        element_at(array(lit(10L), lit(50L), lit(100L), lit(500L)),
          (col("id") + 1).cast("int")).as("k"))
      ordered(
        broadcast(g).crossJoin(r).crossJoin(broadcast(tot))
          .groupBy(col("k"), col("t").as("total"))
          .agg(sum(when(col("rk") <= col("k"), col("c")).otherwise(0L))
            .as("covered"))
          .select(col("k"), col("covered"), col("total"),
            round(col("covered") * lit(1.0) / col("total"), 4).as("coverage")))
    }
  )

  /** D9dc: DATA CARD — the one-row "datasheet for the dataset" a corpus
    * release ships (Gebru et al.'s datasheets, the model-card sibling):
    * volumes, language/source diversity, the language-share entropy
    * (diversity in nats — the d7_source_kl DECIMAL(20,12) ln-rounding
    * discipline keeps libm's last ulp out of the hash), the dominant
    * language and its share, and exact mean/median document length.
    * Everything is one corpus scan into a handful of 1-row aggregates;
    * the median is an exact order statistic at rank ceil(n/2) — found
    * NOT by a corpus-wide row_number (a single-partition sort at
    * 100 TB) but by the GK-sketch→exact-refine discipline
    * (graft.functions.ExactNtile with the single median cut rank):
    * bounded passes, band ≤ ~2·eps·n rows in any tie regime, the
    * boundary value driver-held — bit-identical to the rank filter. */
  private lazy val dataCardQ = Q(
    "d9_data_card",
    Some("""WITH d AS (
           |  SELECT doc_id, lang, source, n_chars,
           |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                              x -> x <> '')) AS BIGINT) AS nt
           |  FROM documents
           |),
           |tot AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(nt) AS BIGINT) AS n_tokens,
           |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           |  FROM d
           |),
           |lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
           |ent AS (
           |  SELECT sum(c * CAST(round(ln(c * 1.0 / tot.n_docs), 12)
           |                      AS DECIMAL(20,12))) AS s
           |  FROM lc CROSS JOIN tot
           |),
           |top AS (
           |  SELECT lang AS top_lang, c AS top_c FROM (
           |    SELECT lang, c, row_number() OVER (ORDER BY c DESC, lang ASC) AS rn
           |    FROM lc
           |  ) WHERE rn = 1
           |),
           |med AS (
           |  SELECT nt AS median_tokens FROM (
           |    SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS rn FROM d
           |  ), tot
           |  WHERE rn = (tot.n_docs + 1) // 2
           |)
           |SELECT tot.n_docs, tot.n_tokens, tot.n_chars, tot.n_langs,
           |       tot.n_sources,
           |       top.top_lang,
           |       round(top.top_c * 1.0 / tot.n_docs, 4) AS top_lang_share,
           |       round(-CAST(ent.s AS DOUBLE) / tot.n_docs, 4)
           |         AS lang_entropy_nats,
           |       round(tot.n_tokens * 1.0 / tot.n_docs, 4) AS mean_doc_tokens,
           |       med.median_tokens
           |FROM tot CROSS JOIN ent CROSS JOIN top CROSS JOIN med
           |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // corpus relation consumed by the totals, the per-lang rollup,
      // and ExactNtile's bounded median passes → one cut
      val d = t.documents.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), size(Text.tokenize(col("text"))).cast("long").as("nt"))
        .withColumn("snt", col("nt").cast("double"))
        .cut(Shared)
      val tot = d.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val lc = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val ent = lc.crossJoin(broadcast(tot)) // 1-row totals scalar
        .agg(sum(col("c") *
          // cast(... as double): a bare `c * 1.0 / n_docs` inside expr()
          // parses 1.0 as DECIMAL and Spark's decimal division truncates
          // the quotient at scale 6 — DuckDB divides as DOUBLE, so the
          // ln arguments would diverge at 1e-6
          expr("cast(round(ln(cast(c as double) / n_docs), 12) as decimal(20,12))"))
          .as("s"))
      val top = lc
        .select(col("lang"), col("c"), row_number().over(
          Window.orderBy(col("c").desc, col("lang").asc)).as("rn"))
        .filter(col("rn") === 1)
        .select(col("lang").as("top_lang"), col("c").as("top_c"))
      // exact median via GK bracket → tie-aware exact counts → bounded
      // band refine (graft.functions.ExactNtile with the single cut
      // rank (n+1) DIV 2) — no corpus-wide window; the nt values are
      // token counts (≪ 2^53), so the double round-trip is lossless
      val nDocs = d.count()
      val medBands = graft.functions.ExactNtile.bands(
        d, Seq("snt"), "doc_id", Seq((nDocs + 1L) / 2L), nDocs)
      val medKey = graft.functions.ExactNtile.boundaries(
        d, medBands, "doc_id")("snt").head
      val med = spark.range(1)
        .select(lit(medKey._1.toLong).as("median_tokens"))
      ordered(
        tot.crossJoin(broadcast(ent)).crossJoin(broadcast(top))
          .crossJoin(broadcast(med))
          .select(col("n_docs"), col("n_tokens"), col("n_chars"),
            col("n_langs"), col("n_sources"),
            col("top_lang"),
            round(col("top_c") * 1.0 / col("n_docs"), 4).as("top_lang_share"),
            round((-col("s")).cast("double") / col("n_docs"), 4)
              .as("lang_entropy_nats"),
            round(col("n_tokens") * 1.0 / col("n_docs"), 4)
              .as("mean_doc_tokens"),
            col("median_tokens")))
    }
  )

  private lazy val sourceReportQ = Q(
    "d9_source_report",
    // PER-SOURCE CORPUS HEALTH REPORT — the observability dashboard a
    // curation pipeline publishes after every ingest: per source, doc
    // and token volume, exact-duplicate rate (md5 content groups with
    // >1 member), and language purity. Composes the d4 exact-dedup
    // grouping with per-row token counts in ONE plan. All counts exact
    // integers; the two rates are single rounded divisions. 100 TB
    // shape: one scan feeds both the md5-group aggregate and the
    // per-source rollup; the dup-group relation joins back on the
    // digest key (same partitioning), and the final output is
    // source-count-sized.
    Some("""WITH d AS (
            |  SELECT doc_id, source, lang, md5(text) AS sig,
            |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
            |                              x -> x <> '')) AS BIGINT) AS n_tokens
            |  FROM documents
            |),
            |sg AS (SELECT sig, CAST(count(*) AS BIGINT) AS members
            |       FROM d GROUP BY sig)
            |SELECT d.source,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens,
            |       CAST(sum(CASE WHEN sg.members > 1 THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_dup_docs,
            |       round(sum(CASE WHEN sg.members > 1 THEN 1 ELSE 0 END) * 1.0
            |             / count(*), 4) AS dup_rate,
            |       CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_en,
            |       round(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) * 1.0
            |             / count(*), 4) AS en_rate
            |FROM d JOIN sg ON d.sig = sg.sig
            |GROUP BY d.source
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val d = t.documents.select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("sig"),
        size(Text.tokenize(col("text"))).cast("long").as("n_tokens"))
      val sg = d.groupBy(col("sig").as("g_sig"))
        .agg(count(lit(1)).as("members"))
      ordered(
        d.join(sg, col("sig") === col("g_sig"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(when(col("members") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            round(sum(when(col("members") > 1, 1L).otherwise(0L)) * lit(1.0) /
              count(lit(1)), 4).as("dup_rate"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            round(sum(when(col("lang") === "en", 1L).otherwise(0L)) * lit(1.0) /
              count(lit(1)), 4).as("en_rate")))
    }
  )

  private lazy val boilerplateQ = Q(
    "d7_boilerplate",
    // BOILERPLATE / TEMPLATE DETECTION — the Common-Crawl curation step
    // that strips navigation chrome, license footers, and cookie banners:
    // a 3-gram that recurs across MANY DISTINCT SOURCES is template
    // text, not content (content phrases stay within a source; chrome
    // crosses them). Top-100 by (source-spread, occurrences, gram) — a
    // total order, so the page is deterministic and plans as a top-k.
    // 100 TB shape: the corpus explodes once to (source, gram); a
    // (gram, distinct-source + count) aggregate bounds everything after
    // by the gram-TYPE relation; the top-100 is TakeOrderedAndProject,
    // never a global sort materialization.
    Some(s"""WITH $toksCte,
            |g AS (
            |  SELECT d.source, t.tokens[i] || ' ' || t.tokens[i+1] || ' ' || t.tokens[i+2] AS gram
            |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
            |  CROSS JOIN UNNEST(range(1, len(t.tokens) - 1)) AS u(i)
            |),
            |s AS (SELECT gram, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            |             CAST(count(*) AS BIGINT) AS n
            |      FROM g GROUP BY 1)
            |SELECT gram, n_sources, n FROM s
            |WHERE n_sources >= 5
            |ORDER BY n_sources DESC, n DESC, gram ASC LIMIT 100""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val toks = t.documents.select(col("source"), Text.tokenize(col("text")).as("tk"))
      // Text.shingles guards docs shorter than n tokens (sequence(1, 0)
      // counts DOWN in Spark); the DuckDB oracle's range(1, len-1) already
      // yields no rows there, so the guard keeps both engines aligned.
      val g = toks.select(col("source"),
        explode(Text.shingles(col("tk"), 3)).as("gram"))
      val s = g.groupBy(col("gram"))
        .agg(countDistinct(col("source")).as("n_sources"), count(lit(1)).as("n"))
      s.filter(col("n_sources") >= 5)
        .orderBy(col("n_sources").desc, col("n").desc, col("gram").asc)
        .limit(100)
    }
  )

  private lazy val sourceOverlapQ = Q(
    "d12_source_overlap",
    // SOURCE-OVERLAP MATRIX — which sources share content? The
    // contamination/lineage diagnostic between exact dedup (no
    // cross-source dups here) and per-pair near-dup joins: 3-gram-set
    // Jaccard between every source pair. 100 TB shape: the corpus
    // explodes once to distinct (gram, source); the pair join is PER
    // GRAM and bounded by sources-per-gram (≤ source count, a
    // constant), never corpus²; per-source set sizes ride the
    // source-TYPE relation and broadcast back; output is source-pair
    // bounded. Intersection and union are exact integers; Jaccard is
    // one rounded division.
    Some(s"""WITH $toksCte,
            |g AS (
            |  SELECT DISTINCT d.source,
            |         t.tokens[i] || ' ' || t.tokens[i+1] || ' ' || t.tokens[i+2] AS gram
            |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
            |  CROSS JOIN UNNEST(range(1, len(t.tokens) - 1)) AS u(i)
            |),
            |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
            |pr AS (
            |  SELECT g1.source AS s1, g2.source AS s2, CAST(count(*) AS BIGINT) AS inter
            |  FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.source < g2.source
            |  GROUP BY 1, 2
            |)
            |SELECT pr.s1, pr.s2, pr.inter,
            |       m1.n_grams AS n1, m2.n_grams AS n2,
            |       round(pr.inter * 1.0 / (m1.n_grams + m2.n_grams - pr.inter), 4)
            |         AS jaccard
            |FROM pr JOIN m m1 ON pr.s1 = m1.source JOIN m m2 ON pr.s2 = m2.source
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val gk = t.documents
        .select(col("source").as("src"), Text.tokenize(col("text")).as("tk"))
        // shingles() guards <3-token docs (empty array, matching the
        // oracle's empty range) instead of a negative-index sequence.
        .select(col("src"), explode(Text.shingles(col("tk"), 3)).as("gram"))
        .distinct()
      val m = gk.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
      val pr = gk.as("g1")
        .join(gk.as("g2"),
          col("g1.gram") === col("g2.gram") && col("g1.src") < col("g2.src"))
        .groupBy(col("g1.src").as("s1"), col("g2.src").as("s2"))
        .agg(count(lit(1)).as("inter"))
      ordered(
        pr.join(broadcast(m.select(col("src").as("m1s"), col("n_grams").as("n1"))),
            col("s1") === col("m1s"))
          .join(broadcast(m.select(col("src").as("m2s"), col("n_grams").as("n2"))),
            col("s2") === col("m2s"))
          .select(col("s1"), col("s2"), col("inter"), col("n1"), col("n2"),
            round(col("inter") * lit(1.0) /
              (col("n1") + col("n2") - col("inter")), 4).as("jaccard")))
    }
  )

  private lazy val booleanQ = Q(
    "d3_boolean",
    // BOOLEAN RETRIEVAL (AND / NOT) — the set-operation face of the
    // inverted index next to the ranked d3 family: documents containing
    // 'spark' AND 'join' but NOT 'slow', with the per-term frequencies.
    // 100 TB shape: the postings backbone every d3 query shares; each
    // predicate joins ONE term's posting list (equi-join on doc_id, list
    // sized by that term's df), the exclusion is a left-anti join against
    // the negated term's postings — the corpus enters once to build
    // postings and never again. All outputs integer counts; nothing to
    // round.
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            |      FROM tok GROUP BY 1, 2)
            |SELECT a.doc_id, a.tf AS tf_spark, b.tf AS tf_join
            |FROM p a JOIN p b ON a.doc_id = b.doc_id
            |WHERE a.term = 'spark' AND b.term = 'join'
            |  AND NOT EXISTS (SELECT 1 FROM p n
            |                  WHERE n.doc_id = a.doc_id AND n.term = 'slow')
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val postings = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val a = postings.filter(col("term") === "spark")
        .select(col("doc_id"), col("tf").as("tf_spark"))
      val b = postings.filter(col("term") === "join")
        .select(col("doc_id").as("db"), col("tf").as("tf_join"))
      val n = postings.filter(col("term") === "slow").select(col("doc_id").as("dn"))
      ordered(
        a.join(b, col("doc_id") === col("db"))
          .join(n, col("doc_id") === col("dn"), "left_anti")
          .select(col("doc_id"), col("tf_spark"), col("tf_join")))
    }
  )

  private lazy val pmiAssocQ = Q(
    "d7_pmi_assoc",
    // Pointwise-mutual-information word associations (Church & Hanks
    // 1990): co-occurrence pairs from a 2-token skip-gram window,
    // unordered via least/greatest, scored ln(c_ab·T / (m_a·m_b)) where
    // the marginals m come from the PAIR relation itself (each pair
    // counts both endpoints) and T = 2·total pairs — so the ln argument
    // is a ratio of exact BIGINT products (all < 2^53, doubles exact)
    // and ONE ln rounded once is hash-safe with no decimal folding.
    // 100 TB shape: one corpus scan explodes to (a, b) pairs feeding a
    // hash aggregate; marginals and the c >= 5 association table ride
    // the pair-TYPE relation (bounded by vocab², further cut by the
    // count floor), never the corpus; the totals row broadcasts.
    Some(s"""WITH $toksCte,
            |prs AS (
            |  SELECT least(tokens[i], tokens[i+d]) AS a,
            |         greatest(tokens[i], tokens[i+d]) AS b
            |  FROM toks
            |  CROSS JOIN UNNEST(range(1, len(tokens))) AS t(i)
            |  CROSS JOIN UNNEST([1, 2]) AS u(d)
            |  WHERE i + d <= len(tokens)
            |),
            |pc AS (SELECT a, b, count(*) AS c FROM prs GROUP BY 1, 2),
            |m AS (
            |  SELECT w, CAST(sum(c) AS BIGINT) AS mw
            |  FROM (SELECT a AS w, c FROM pc UNION ALL SELECT b, c FROM pc)
            |  GROUP BY w
            |),
            |tot AS (SELECT CAST(2 * sum(c) AS BIGINT) AS tp FROM pc)
            |SELECT a, b, c,
            |       round(ln(CAST(c * tp AS DOUBLE) / CAST(ma.mw * mb.mw AS DOUBLE)), 4) + 0.0
            |         AS pmi
            |FROM pc JOIN m ma ON pc.a = ma.w JOIN m mb ON pc.b = mb.w
            |CROSS JOIN tot
            |WHERE c >= 5
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val toks = t.documents.select(Text.tokenize(col("text")).as("tokens"))
      val prs = toks.select(explode(expr(
        """flatten(transform(sequence(1, size(tokens) - 1),
          |  i -> transform(filter(array(1, 2), d -> i + d <= size(tokens)),
          |    d -> struct(least(element_at(tokens, i), element_at(tokens, i + d)) AS a,
          |                greatest(element_at(tokens, i), element_at(tokens, i + d)) AS b))))
          |""".stripMargin)).as("p"))
        .select(col("p.a"), col("p.b"))
      val pc = prs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .cut(Shared) // feeds marginals, totals and the association rows
      val m = pc.select(col("a").as("w"), col("c"))
        .unionAll(pc.select(col("b").as("w"), col("c")))
        .groupBy(col("w")).agg(sum(col("c")).as("mw"))
      val tot = pc.agg((sum(col("c")) * 2).as("tp"))
      ordered(
        pc.filter(col("c") >= 5)
          .join(broadcast(m.withColumnRenamed("w", "a").withColumnRenamed("mw", "ma")), Seq("a"))
          .join(broadcast(m.withColumnRenamed("w", "b").withColumnRenamed("mw", "mb")), Seq("b"))
          .crossJoin(broadcast(tot)) // 1-row pair total
          .select(col("a"), col("b"), col("c"),
            // `+ 0.0` canonicalizes IEEE negative zero (-0.0 + 0.0 = +0.0):
            // DuckDB and Spark round a tiny negative PMI to differently
            // signed zeros, which are ==-equal but stringify differently.
            (round(log((col("c") * col("tp")).cast("double") /
              (col("ma") * col("mb")).cast("double")), 4) + lit(0.0)).as("pmi"))
      )
    }
  )

  /** Quantile-normalize `(doc_id, source, score)` rows: each doc's score
    * is replaced by the pooled-distribution value at the doc's
    * within-source quantile, via the all-integer index mapping described
    * on `d7_quantile_norm`. Output adds `norm_score`. */
  def quantileNormalize(s0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PrefixSum
    // consumed five ways (per-value counts, tie ranks, per-source
    // totals, corpus total, pooled CDF) — materialize once
    val s = s0.cut(Shared)
    // Leg (a) — the per-source rank WITHOUT a per-source corpus window
    // (the a9_trimmed_mean shape, retired round 13; a window
    // PARTITIONed only by `source` still pushes corpus/|sources| rows
    // through one sort task at 100 TB). rank = cum-count of the
    // source's smaller scores (grouped range-bucketed prefix sum over
    // the per-(source, score) counts — graft.functions.PrefixSum, the
    // distributed-sort-shaped plan) + the doc's position within its tie
    // group (a window partitioned by (source, score): tie-group-sized
    // partitions, fine-grained at any scale).
    val perVal = s.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("svcnt"))
    val cumBySource = PrefixSum
      .cumOverDistinctBy(perVal, Seq("source"), "score", "svcnt", "scum")
    val ns = s.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val ranked = s
      .withColumn("tierk", row_number().over(
        Window.partitionBy(col("source"), col("score")).orderBy(col("doc_id"))))
      .join(cumBySource, Seq("source", "score"))
      .withColumn("rk", col("scum") - col("svcnt") + col("tierk"))
      .join(broadcast(ns), Seq("source")) // |sources|-row literal domain
    val n = s.agg(count(lit(1)).as("nt"))
    val idx = ranked.crossJoin(broadcast(n)) // 1-row corpus total
      .select(col("doc_id"), col("source"), col("score"),
        when(col("ns") === 1, expr("(nt + 1) div 2"))
          .otherwise(expr("1 + ((rk - 1) * (nt - 1)) div (ns - 1)")).as("pidx"))
    // Leg (b) — the pooled CDF over DISTINCT scores: for a continuous
    // score the distinct-value relation is ~corpus-sized (ties are
    // measure-zero), so the cumulative count rides the range-bucketed
    // prefix sum (the a17/t17 discipline), never an unpartitioned
    // window; exploded to per-rank rows so the lookup is an EQUI-join
    val pv = s.groupBy(col("score").as("pscore"))
      .agg(count(lit(1)).as("cnt"))
    val pc = PrefixSum.cumOverDistinct(pv, "pscore", "cnt", "cum")
      .select(col("pscore"),
        explode(sequence(col("cum") - col("cnt") + 1, col("cum"))).as("pidx"))
    idx.join(pc, Seq("pidx"))
      .select(col("doc_id"), col("source"), col("score"),
        col("pscore").cast("int").as("norm_score"))
  }

  /** Content-defined chunk rows `(doc_id, chunk_idx, start_pos, chunk_len,
    * chunk_md5)` for a `(doc_id, text)` input. Boundary rule: the
    * Karp-Rabin hash (d7_fingerprint fold) of the 16-char window ending at
    * a position is ≡ 0 mod 64 — purely local, so edits perturb only the
    * chunks they touch (asserted by FunctionsSpec). Narrow per-row HOF
    * compute; docs shorter than 17 chars are dropped.
    */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import graft.sources.Scans.WidenSyntax
    // the boundary scan is the native ROLLING Karp–Rabin expression
    // (graft.plans.CdcBoundariesStr): one mod-mult per char instead of
    // the retired HOF's 16 refolds per position, and it iterates the
    // string's code points IN PLACE instead of materializing the
    // split(text, '') per-char array (one UTF8String allocation per
    // character — the measured dominant cost of the codes build).
    // Boundaries provably identical: modular arithmetic is exact, and
    // split('')/ascii/substring/length are all code-point-based (pinned
    // by probe + CdcExprSpec parity over the corpus, randomized arrays
    // and unicode edges). n = length(text) — the same code-point count
    // size(split(text, '')) produced.
    def cdcBoundariesStr(s: Column): Column = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.plans.CdcBoundariesStr(
        ColumnBridge.expression(s)))
    }
    // widen: the per-char window-hash map side is the dominant pass and
    // must not serialize on an unsplittable toy row group (guide §2.5)
    docs.widen(col("doc_id"))
      .filter(length(col("text")) >= 17)
      .select(col("doc_id"), col("text"),
        cdcBoundariesStr(col("text")).as("bs"),
        length(col("text")).cast("long").as("n"))
      .select(col("doc_id"), col("text"),
        concat(array(lit(1L)), transform(col("bs"), b => b + 1L)).as("ss"),
        concat(col("bs"), array(col("n"))).as("es"))
      .select(col("doc_id"), col("text"),
        posexplode(arrays_zip(col("ss"), col("es"))).as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx"),
        col("se.ss").as("start_pos"),
        (col("se.es") - col("se.ss") + 1L).as("chunk_len"),
        md5(col("text").substr(col("se.ss").cast("int"),
          (col("se.es") - col("se.ss") + 1L).cast("int"))).as("chunk_md5"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio '71 lineage, the
    * classic two-pass IR trick): run BM25 for the base query, harvest
    * the dominant terms of the top-10 docs ("the relevant set"), add the
    * best 3 of them to the query, re-score. Every stage is the already-
    * proven exact BM25 machinery; the harvest is a semi-join of the
    * postings against 10 doc ids and rides term TYPES, never the corpus.
    * Expansion picks deterministic winners: total tf in the feedback
    * docs desc, length >= 4 (drops stop-ish tokens), term asc ties,
    * base terms excluded.
    *
    * 100 TB shape: pass 1 is the d3 BM25 plan (postings are the
    * persisted inverted index); the feedback-doc semi-join touches 10
    * postings lists; pass 2 re-filters the SAME postings relation on 6
    * terms instead of 3 — no stage rescans raw text.
    */
  private def prfExpandQ: Q = Q(
    "d3_prf_expand",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |postings AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
            |stats AS (SELECT avg(dlen) AS avgdl,
            |                 (SELECT count(*) FROM documents) AS n FROM dl),
            |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
            |bm1 AS (
            |  SELECT p.doc_id,
            |    round(sum(
            |      ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
            |      * (p.tf * 2.2)
            |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
            |    ), 4) AS bm25
            |  FROM postings p JOIN dfreq d USING (term)
            |  JOIN dl USING (doc_id) CROSS JOIN stats
            |  WHERE p.term IN ('spark', 'window', 'shuffle')
            |  GROUP BY p.doc_id
            |),
            |fb AS (
            |  SELECT doc_id FROM (
            |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
            |    FROM bm1) WHERE r <= 10
            |),
            |exp AS (
            |  SELECT term FROM (
            |    SELECT p.term, CAST(sum(p.tf) AS BIGINT) AS fbtf,
            |           row_number() OVER (ORDER BY CAST(sum(p.tf) AS BIGINT) DESC,
            |                              p.term ASC) AS r
            |    FROM postings p JOIN fb USING (doc_id)
            |    WHERE length(p.term) >= 4
            |      AND p.term NOT IN ('spark', 'window', 'shuffle')
            |    GROUP BY p.term) WHERE r <= 3
            |),
            |bm2 AS (
            |  SELECT p.doc_id,
            |    round(sum(
            |      ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
            |      * (p.tf * 2.2)
            |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
            |    ), 4) AS bm25x
            |  FROM postings p JOIN dfreq d USING (term)
            |  JOIN dl USING (doc_id) CROSS JOIN stats
            |  WHERE p.term IN ('spark', 'window', 'shuffle')
            |     OR p.term IN (SELECT term FROM exp)
            |  GROUP BY p.doc_id
            |)
            |SELECT doc_id, bm25x FROM (
            |  SELECT doc_id, bm25x,
            |         row_number() OVER (ORDER BY bm25x DESC, doc_id ASC) AS r
            |  FROM bm2) WHERE r <= 20
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val base = Seq("spark", "window", "shuffle")
      val postings = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .cut(Shared) // pass 1, the harvest AND pass 2 all ride this
      val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
      val stats = dl.agg(avg(col("dlen")).as("avgdl"))
        .crossJoin(t.documents.agg(count(lit(1)).as("n")))
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val score = idf * (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dlen") / col("avgdl")))
      def bm25(terms: org.apache.spark.sql.DataFrame, out: String) = postings
        .join(broadcast(terms), "term")
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(r4(sum(score)).as(out))
      val baseTerms = spark.createDataFrame(
        base.map(Tuple1(_))).toDF("term")
      val bm1 = bm25(baseTerms, "bm25")
      val fb = bm1.orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"))
      val exp = postings
        .join(broadcast(fb), "doc_id")
        .filter(length(col("term")) >= 4 && !col("term").isin(base: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("fbtf"))
        .orderBy(col("fbtf").desc, col("term").asc).limit(3)
        .select(col("term"))
      val bm2 = bm25(baseTerms.unionByName(exp), "bm25x")
      ordered(bm2.orderBy(col("bm25x").desc, col("doc_id").asc).limit(20))
    }
  )

  /** Distributed BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-training core of every LLM data stack, in pure relational
    * form: three unrolled merge rounds, each one hash aggregate
    * (adjacent-pair counts weighted by word frequency) + a 1-row argmax
    * broadcast + a per-row pair substitution. The working relation is
    * the DISTINCT-WORD vocabulary with counts — corpus scale never
    * enters a round; this is exactly why industrial BPE trainers run on
    * word-count tables, not raw text.
    *
    * Hash-checked end to end: word states live as 0x01-separated
    * symbol strings, pair counts are exact BIGINTs, the argmax
    * tie-breaks on the byte order of the pair key, and the merge applies
    * via left-to-right non-overlapping `replace` — identical semantics
    * in the JVM and DuckDB (a shared 'aaa' run merges its first two
    * symbols, the standard BPE greedy behavior), proven by the oracle
    * match. The vocabulary is restricted to ascii-alpha words so '.'
    * regex segmentation cannot diverge between UTF-16 and codepoint
    * engines.
    *
    * 100 TB shape: one corpus scan builds the word-count relation; each
    * round shuffles only (pair, count) partial aggregates of the
    * vocabulary and broadcasts a single row back. Rounds are a fixed
    * count; state strings are checkpointed per round so lineage stays
    * linear.
    */
  private def bpeQs: Seq[Q] = {
    val S = "\u0001"
    // shared 3-round training loop: per-round winning merges + the final
    // per-word symbol states (both ride the VOCAB relation, never the
    // corpus -- word states are at most |vocab| rows regardless of SF)
    def train(t: Tables): (Seq[DataFrame], DataFrame) = {
      val wc = t.documents
        .select(explode(Text.tokenize(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      var st = wc.select(col("word"), col("cnt"),
        concat(lit(S), regexp_replace(col("word"), "(.)", "$1" + S)).as("state"))
        .cut(Iter)
      val merges = (1 to 3).map { r =>
        val syms = filter(split(col("state"), S), x => x =!= "")
        val pairs = zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(S), b))
        val pc = st
          .select(col("cnt"), explode(pairs).as("p"))
          .groupBy(col("p")).agg(sum(col("cnt")).as("total"))
        val m = pc.orderBy(col("total").desc, col("p").asc).limit(1)
        // apply the chosen merge to every word state: left-to-right
        // non-overlapping substitution, broadcast of the 1-row winner
        st = st.crossJoin(broadcast(m))
          .select(col("word"), col("cnt"),
            replace(col("state"),
              concat(lit(S), col("p"), lit(S)),
              concat(lit(S), translate(col("p"), S, ""), lit(S))).as("state"))
          .cut(Iter)
        m.select(lit(r).as("round"),
          element_at(split(col("p"), S), 1).as("left_sym"),
          element_at(split(col("p"), S), 2).as("right_sym"),
          col("total").as("pair_count"))
      }
      (merges, st)
    }
    // the shared training CTE chain (wc -> st0 -> p1/m1 -> st1 -> p2/m2
    // -> st2 -> p3/m3), composed by both the merges and the encode oracle
    val bpeChainSql =
      """wc AS (
      |  SELECT term AS word, count(*) AS cnt
      |  FROM (SELECT unnest(tokens) AS term FROM toks)
      |  WHERE regexp_matches(term, '^[a-z]+$') GROUP BY 1
      |),
      |st0 AS (
      |  SELECT word, cnt,
      |         chr(1) || regexp_replace(word, '(.)', '\1' || chr(1), 'g') AS state
      |  FROM wc
      |),
      |p1 AS (
      |  SELECT p, CAST(sum(cnt) AS BIGINT) AS total FROM (
      |    SELECT cnt, unnest([s[i] || chr(1) || s[i+1] FOR i IN range(1, len(s))]) AS p
      |    FROM (SELECT cnt, list_filter(string_split(state, chr(1)), x -> x <> '') AS s
      |          FROM st0)) GROUP BY 1
      |),
      |m1 AS (SELECT p, total FROM p1 ORDER BY total DESC, p ASC LIMIT 1),
      |st1 AS (
      |  SELECT word, cnt,
      |         replace(state, chr(1) || m1.p || chr(1),
      |                 chr(1) || replace(m1.p, chr(1), '') || chr(1)) AS state
      |  FROM st0 CROSS JOIN m1
      |),
      |p2 AS (
      |  SELECT p, CAST(sum(cnt) AS BIGINT) AS total FROM (
      |    SELECT cnt, unnest([s[i] || chr(1) || s[i+1] FOR i IN range(1, len(s))]) AS p
      |    FROM (SELECT cnt, list_filter(string_split(state, chr(1)), x -> x <> '') AS s
      |          FROM st1)) GROUP BY 1
      |),
      |m2 AS (SELECT p, total FROM p2 ORDER BY total DESC, p ASC LIMIT 1),
      |st2 AS (
      |  SELECT word, cnt,
      |         replace(state, chr(1) || m2.p || chr(1),
      |                 chr(1) || replace(m2.p, chr(1), '') || chr(1)) AS state
      |  FROM st1 CROSS JOIN m2
      |),
      |p3 AS (
      |  SELECT p, CAST(sum(cnt) AS BIGINT) AS total FROM (
      |    SELECT cnt, unnest([s[i] || chr(1) || s[i+1] FOR i IN range(1, len(s))]) AS p
      |    FROM (SELECT cnt, list_filter(string_split(state, chr(1)), x -> x <> '') AS s
      |          FROM st2)) GROUP BY 1
      |),
      |m3 AS (SELECT p, total FROM p3 ORDER BY total DESC, p ASC LIMIT 1)""".stripMargin
    val mergesQ = Q(
      "d2_bpe_merges",
      Some(s"""WITH $toksCte,
              |$bpeChainSql
              |SELECT 1 AS round, split_part(p, chr(1), 1) AS left_sym,
              |       split_part(p, chr(1), 2) AS right_sym, total AS pair_count FROM m1
              |UNION ALL
              |SELECT 2, split_part(p, chr(1), 1), split_part(p, chr(1), 2), total FROM m2
              |UNION ALL
              |SELECT 3, split_part(p, chr(1), 1), split_part(p, chr(1), 2), total FROM m3
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val (merges, _) = train(Tables(spark, dir))
        ordered(merges.reduce(_ unionByName _))
      }
    )
    val encodeQ = Q(
      "d2_bpe_encode",
      // TOKENIZER APPLICATION — the companion to d2_bpe_merges: encode
      // every document with the 3 learned merges and report its symbol
      // (token) counts. The word->symbol-count table comes straight from
      // the training loop's final states, so the encode step is ONE hash
      // join of the corpus word stream against the VOCAB-bounded state
      // relation (broadcastable at realistic vocab sizes) followed by a
      // per-doc aggregate -- the exact 100 TB shape of running a trained
      // tokenizer over a corpus. avg_word_syms < word length shows the
      // merges compress; identical hashes prove both engines learned AND
      // applied the identical merge table.
      Some(s"""WITH $toksCte,
              |$bpeChainSql,
              |st3 AS (
              |  SELECT word, cnt,
              |         replace(state, chr(1) || m3.p || chr(1),
              |                 chr(1) || replace(m3.p, chr(1), '') || chr(1)) AS state
              |  FROM st2 CROSS JOIN m3
              |),
              |wsym AS (
              |  SELECT word,
              |         len(list_filter(string_split(state, chr(1)), x -> x <> '')) AS nsym
              |  FROM st3
              |),
              |tokw AS (
              |  SELECT doc_id, term AS word
              |  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
              |  WHERE regexp_matches(term, '^[a-z]+$$')
              |)
              |SELECT doc_id, count(*) AS n_words,
              |       CAST(sum(nsym) AS BIGINT) AS n_symbols,
              |       round(CAST(sum(nsym) AS DOUBLE) / count(*), 4) AS avg_word_syms
              |FROM tokw JOIN wsym USING (word)
              |GROUP BY doc_id
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val (_, st) = train(t)
        val wsym = st.select(col("word"),
          size(filter(split(col("state"), S), x => x =!= "")).as("nsym"))
        val words = t.documents
          .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("word"))
          .filter(col("word").rlike("^[a-z]+$"))
        ordered(
          words.join(wsym, "word") // vocab-bounded build side
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_words"), sum(col("nsym")).as("n_symbols"))
            .withColumn("avg_word_syms",
              round(col("n_symbols").cast("double") / col("n_words"), 4)))
      }
    )
    Seq(mergesQ, encodeQ)
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the RAG-stack staple:
    * a lexical BM25 leg and an embedding-cosine leg each produce a
    * top-50 ranking, fused by RRF score 1/(60+r_lex) + 1/(60+r_vec)
    * (Cormack et al., SIGIR'09; 60 is the standard k). Hash-checked end
    * to end: both legs' ranks are integers with rounded-score,
    * id-tiebroken ordering, and the fusion score is the same literal
    * IEEE formula (two exact divisions + one add) in both engines.
    *
    * 100 TB shape: each leg is already a distributed top-k
    * (TakeOrderedAndProject — never a global sort) over its own index
    * relation (postings / ANN candidates), the rank windows run over
    * 50-row relations, and the fusion is a full-outer equi-join of two
    * 50-row sides. Nothing corpus-sized crosses an exchange after the
    * per-leg scoring.
    */
  private def hybridRrfQ: Q = Q(
    "d3_hybrid_rrf",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |postings AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
            |stats AS (SELECT avg(dlen) AS avgdl,
            |                 (SELECT count(*) FROM documents) AS n FROM dl),
            |bm AS (
            |  SELECT p.doc_id,
            |    round(sum(
            |      ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
            |      * (p.tf * 2.2)
            |      / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl))
            |    ), 4) AS bm25
            |  FROM postings p
            |  JOIN (SELECT term, count(*) AS df FROM postings GROUP BY 1) d USING (term)
            |  JOIN dl USING (doc_id) CROSS JOIN stats
            |  WHERE p.term IN ('spark', 'window', 'shuffle')
            |  GROUP BY p.doc_id
            |),
            |lex AS (
            |  SELECT doc_id, lex_rank FROM (
            |    SELECT doc_id,
            |           row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
            |    FROM bm) WHERE lex_rank <= 50
            |),
            |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            |cs AS (
            |  SELECT vec_id,
            |    round(
            |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            |        [qe[i]::DOUBLE * ce[i]::DOUBLE FOR i IN range(1, len(qe) + 1)]),
            |        (acc, x) -> acc + x)
            |      / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            |           [qe[i]::DOUBLE * qe[i]::DOUBLE FOR i IN range(1, len(qe) + 1)]),
            |           (acc, x) -> acc + x))
            |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            |           [ce[i]::DOUBLE * ce[i]::DOUBLE FOR i IN range(1, len(ce) + 1)]),
            |           (acc, x) -> acc + x))), 4) AS cos
            |  FROM (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 1)
            |  CROSS JOIN q
            |),
            |vec AS (
            |  SELECT vec_id, vec_rank FROM (
            |    SELECT vec_id,
            |           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS vec_rank
            |    FROM cs) WHERE vec_rank <= 50
            |),
            |fused AS (
            |  SELECT coalesce(l.doc_id, v.vec_id) AS doc_id, l.lex_rank, v.vec_rank,
            |         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0)
            |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0), 6) AS rrf
            |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id
            |)
            |SELECT doc_id, lex_rank, vec_rank, rrf FROM (
            |  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn
            |  FROM fused) WHERE rn <= 20
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val queryTerms = Seq("spark", "window", "shuffle")
      // lexical leg — the d3_search_bm25 scorer verbatim
      val postings = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .cut(Shared)
      val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
      val nDocs = t.documents.agg(count(lit(1)).as("n"))
      val stats = dl.agg(avg(col("dlen")).as("avgdl")).crossJoin(nDocs)
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val score = idf * (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dlen") / col("avgdl")))
      val bm = postings
        .filter(col("term").isin(queryTerms: _*))
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(r4(sum(score)).as("bm25"))
      // distributed top-k FIRST (TakeOrderedAndProject), THEN the rank
      // window over the 50 survivors — the global row_number never sees
      // more than k rows
      val lex = bm.orderBy(col("bm25").desc, col("doc_id").asc).limit(50)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc))
            .cast("long"))
        .select(col("doc_id"), col("lex_rank"))
      // vector leg — query vector is embedding 0, candidates the rest
      val e = t.embeddings
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val cs = e.filter(col("vec_id") >= 1)
        .select(col("vec_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), r4(Vectors.cosineFast(col("qe"), col("ce"))).as("cos"))
      val vec = cs.orderBy(col("cos").desc, col("vec_id").asc).limit(50)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc))
            .cast("long"))
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      val fused = lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6)
            .as("rrf"))
      ordered(fused.orderBy(col("rrf").desc, col("doc_id").asc).limit(20))
    }
  )

  /** Count-min sketch frequency estimation (Cormode & Muthukrishnan '05)
    * — the bounded-memory term-frequency sketch next to a6's HLL: d=4
    * hash rows x w=64 buckets, each row a sum of the true counts of
    * every term hashing there, estimate = min over rows. Deterministic
    * end to end (bucket = 60 md5 bits mod w), so DuckDB rebuilds the
    * identical sketch and the hash-check pins the guaranteed
    * one-sided error: estimate >= truth, always.
    *
    * 100 TB shape: the sketch build is ONE hash aggregate over the
    * term-TYPE relation (vocab-bounded, never the corpus) into d*w = 256
    * cells — mergeable across partitions/days by cell-wise addition like
    * the HLL registers; the probe side broadcasts 20 rows.
    */
  /** D2k: per-document KEYWORD EXTRACTION — top-3 TF-IDF terms, the
    * document-tagging primitive (index hints, topic routing, dedup
    * blocking keys). Exact-hash-checked despite the float idf: ln(N/df)
    * is rounded ONCE to 12dp and scaled into a DECIMAL(20,12), so the
    * per-term score tf·idf is an exact decimal product and the per-doc
    * ranking (score desc, term asc) compares exact decimals — no IEEE
    * ordering ambiguity (the d7_lm_score / DSIR discipline). 100 TB
    * shape: one corpus scan to the (doc, term, tf) postings aggregate;
    * df and the idf table ride the term-TYPE relation and hash-join
    * back by term; the rank window partitions per doc over
    * doc-vocabulary-sized groups. Nothing corpus-sized is re-shuffled
    * after the postings exchange.
    */
  /** D3q: query-likelihood retrieval with Dirichlet smoothing (mu=2000) —
    * the third classical ranking model next to TF-IDF and BM25:
    * score(q,d) = sum over query terms of ln((tf + mu*P(t|C)) / (dlen +
    * mu)). Hash-exact via the d7_lm_score discipline: the ln argument is
    * rewritten as the ratio of exact BIGINT products (tf*T + mu*cf) /
    * (T*(dlen + mu)) — every product < 2^53 — rounded ONCE to
    * DECIMAL(20,12); per-doc scores are exact decimal sums. Smoothing
    * scores every document (a missing query term contributes its
    * collection probability), so the cells relation is docs x |q| — at
    * 100 TB the query side is a 3-row broadcast and the corpus enters
    * once for postings; top-20 plans as TakeOrderedAndProject.
    */
  private def qlQ: Q = Q(
    "d3_search_ql",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |postings AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            |             FROM tok GROUP BY 1, 2),
            |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
            |       FROM postings GROUP BY 1),
            |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
            |       FROM postings GROUP BY 1),
            |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM postings),
            |q AS (SELECT unnest(['spark', 'window', 'shuffle']) AS term),
            |cells AS (
            |  SELECT dl.doc_id, q.term, dl.dlen,
            |         CAST(coalesce(p.tf, 0) AS BIGINT) AS tf, cf.cf, tot.t
            |  FROM dl CROSS JOIN q
            |  JOIN cf ON cf.term = q.term
            |  CROSS JOIN tot
            |  LEFT JOIN postings p ON p.doc_id = dl.doc_id AND p.term = q.term
            |),
            |scored AS (
            |  SELECT doc_id,
            |         CAST(round(ln(CAST(tf * t + 2000 * cf AS DOUBLE)
            |                       / CAST(t * (dlen + 2000) AS DOUBLE)), 12)
            |              AS DECIMAL(20,12)) AS lp
            |  FROM cells
            |)
            |SELECT doc_id, round(CAST(sum(lp) AS DOUBLE), 4) AS ql
            |FROM scored GROUP BY doc_id
            |ORDER BY ql DESC, doc_id ASC LIMIT 20""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val queryTerms = Seq("spark", "window", "shuffle")
      val postings = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .cut(Shared) // feeds dl, cf, tot and the per-cell tf lookup
      val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
      val cf = postings.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
      val tot = postings.agg(sum(col("tf")).as("t"))
      val qcf = cf.filter(col("term").isin(queryTerms: _*))
      val cells = dl
        .crossJoin(broadcast(qcf))  // 3-row query-term relation
        .crossJoin(broadcast(tot))  // 1-row collection total
        .join(postings.filter(col("term").isin(queryTerms: _*)),
          Seq("doc_id", "term"), "left")
        .select(col("doc_id"), col("dlen"), col("cf"), col("t"),
          coalesce(col("tf"), lit(0L)).as("tf"))
      val lp = round(
        log((col("tf") * col("t") + lit(2000L) * col("cf")).cast("double") /
          (col("t") * (col("dlen") + 2000L)).cast("double")), 12)
        .cast("decimal(20,12)")
      cells.select(col("doc_id"), lp.as("lp"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("lp")).cast("double"), 4).as("ql"))
        .orderBy(col("ql").desc, col("doc_id").asc)
        .limit(20)
    })

  /** D7r: Flesch reading-ease readability — the classic prose-difficulty
    * gate (score falls as sentences lengthen and words gain syllables).
    * Syllables are approximated as VOWEL GROUPS ([aeiouy]+ runs), the
    * standard cheap heuristic; sentences as terminal-punctuation runs
    * with a floor of 1. All three counts are exact integers from the
    * same regex engine class (RE2-free simple classes both engines agree
    * on), the score is one IEEE expression rounded once. 100 TB: pure
    * per-row narrow compute, no shuffle before the final order.
    */
  private def readabilityQ: Q = Q(
    "d7_readability",
    Some(s"""WITH $toksCte,
            |m AS (
            |  SELECT d.doc_id,
            |         CAST(len(t.tokens) AS BIGINT) AS words,
            |         CAST(greatest(len(regexp_extract_all(d.text, '[.!?]+')), 1)
            |              AS BIGINT) AS sentences,
            |         CAST(len(regexp_extract_all(lower(d.text), '[aeiouy]+'))
            |              AS BIGINT) AS syllables
            |  FROM documents d JOIN toks t USING (doc_id)
            |  WHERE len(t.tokens) > 0
            |)
            |SELECT doc_id, words, sentences, syllables,
            |       round(206.835 - 1.015 * (words * 1.0 / sentences)
            |             - 84.6 * (syllables * 1.0 / words), 4) AS flesch
            |FROM m
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val m = t.documents.select(col("doc_id"),
          size(Text.tokenize(col("text"))).cast("long").as("words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("long").as("syllables"))
        .filter(col("words") > 0)
      ordered(
        m.select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("words") * lit(1.0) / col("sentences"))
            - lit(84.6) * (col("syllables") * lit(1.0) / col("words")), 4)
            .as("flesch")))
    })

  /** D2v: tokenizer-vocabulary coverage — the OOV (out-of-vocabulary)
    * rate of every document against the corpus's own top-1000 term
    * vocabulary (count-ranked, term tiebreak, so both engines pick the
    * identical vocab). The standard pre-training health check that a fixed
    * tokenizer vocab actually covers a new data source. 100 TB shape: the
    * vocab rank window rides the TERM relation (vocabulary-bounded, never
    * corpus-bounded), the chosen vocab broadcasts, and the per-doc scan
    * is one postings aggregate + one broadcast left-join — the corpus
    * enters exactly once.
    */
  private def oovQ: Q = Q(
    "d2_oov_rate",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |tc AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
            |tot AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS n FROM tc GROUP BY 1),
            |vocab AS (
            |  SELECT term FROM (
            |    SELECT term, row_number() OVER (ORDER BY n DESC, term ASC) AS rn
            |    FROM tot
            |  ) WHERE rn <= 1000
            |)
            |SELECT tc.doc_id,
            |       CAST(sum(cnt) AS BIGINT) AS n_tokens,
            |       CAST(coalesce(sum(CASE WHEN v.term IS NULL THEN cnt END), 0)
            |            AS BIGINT) AS n_oov,
            |       round(coalesce(sum(CASE WHEN v.term IS NULL THEN cnt END), 0)
            |             * 1.0 / sum(cnt), 4) AS oov_rate
            |FROM tc LEFT JOIN vocab v ON tc.term = v.term
            |GROUP BY tc.doc_id
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tc = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("cnt"))
      val tot = tc.groupBy(col("term")).agg(sum(col("cnt")).as("n"))
      // rank window rides the vocabulary relation — bounded by design
      val wv = Window.partitionBy().orderBy(col("n").desc, col("term").asc)
      val vocab = tot.withColumn("rn", row_number().over(wv))
        .filter(col("rn") <= 1000)
        .select(col("term"), lit(1).as("hit"))
      ordered(
        tc.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).as("n_tokens"),
            coalesce(sum(when(col("hit").isNull, col("cnt"))), lit(0L))
              .as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov") * lit(1.0) / col("n_tokens"), 4)
              .as("oov_rate")))
    })

  private def keywordsQ: Q = Q(
    "d2_keywords_tfidf",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |postings AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            |df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
            |n AS (SELECT count(*) AS n_docs FROM documents),
            |idf AS (
            |  SELECT term,
            |         CAST(round(ln(CAST(n_docs AS DOUBLE) / df), 12)
            |              AS DECIMAL(20,12)) AS idf
            |  FROM df CROSS JOIN n
            |),
            |scored AS (
            |  SELECT p.doc_id, p.term, p.tf * i.idf AS score
            |  FROM postings p JOIN idf i USING (term)
            |),
            |ranked AS (
            |  SELECT doc_id, term, score,
            |         row_number() OVER (PARTITION BY doc_id
            |                            ORDER BY score DESC, term ASC) AS rank
            |  FROM scored
            |)
            |SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
            |       round(CAST(score AS DOUBLE), 4) AS score
            |FROM ranked WHERE rank <= 3
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val postings = t.documents
        .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut(Shared) // feeds df and the scored join — one tokenize
      val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = t.documents.agg(count(lit(1)).as("n_docs"))
      val idf = df.crossJoin(broadcast(n)) // 1-row corpus count
        .select(col("term"),
          round(log(col("n_docs").cast("double") / col("df")), 12)
            .cast("decimal(20,12)").as("idf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      ordered(
        postings.join(idf, "term")
          .select(col("doc_id"), col("term"), (col("tf") * col("idf")).as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("rank").cast("long").as("rank"),
            round(col("score").cast("double"), 4).as("score")))
    })

  /** D7s: stopword-ratio quality gate (the Gopher rule: natural prose
    * carries a floor fraction of function words; machine-generated lists,
    * keyword-stuffed spam and non-linguistic payloads fall under it).
    * One narrow scan, per-row HOF counting against a broadcast-literal
    * function-word set, ratio via one IEEE division and the
    * floor-rounding both engines compute identically. At 100 TB this is
    * codegen'd per-row compute with no shuffle before the final order.
    */
  /** D3: proximity (slop) search — documents where 'hash' and 'join'
    * co-occur within 3 token positions, the NEAR operator between exact
    * phrase match (slop 0, d3_search_phrase) and bag-of-words retrieval.
    * Positions come from one posting derivation (posexplode); the pair
    * test is an equi-join on doc_id with the |pa−pb| ≤ slop residual —
    * per-doc position lists bound the join, never corpus². Distances are
    * differences of positions so the 0- vs 1-based indexing of the two
    * engines cancels. 100 TB shape: at scale the two position lists come
    * out of the persisted positional index (the d3_search_phrase
    * backbone) already partitioned by term, and the doc_id equi-join
    * touches only docs containing BOTH terms.
    */
  /** D3s: SNIPPET EXTRACTION — the "best passage" step a search result
    * page runs after ranking: per matching doc, the 10-token window
    * holding the most query-term hits (earliest window on ties), plus the
    * actual snippet text. Window starts only need evaluating at hit
    * positions (a window not starting on a hit is dominated by one that
    * does), so the candidate set is the per-doc hit list, never the token
    * stream — per-row HOF compute over the bound token array, no shuffle.
    * The oracle packs the (hits, −start) argmax as hits·10⁶ − start; the
    * Spark side uses the native struct max — hash equality proves both
    * the window count and the tiebreak agree. */
  private def snippetQ: Q =
    Q(
      "d3_snippet",
      Some(s"""WITH $toksCte,
              |h AS (
              |  SELECT doc_id, tokens,
              |         [i - 1 FOR i IN range(1, len(tokens) + 1)
              |          IF tokens[i] IN ('spark', 'window', 'shuffle')] AS ps
              |  FROM toks
              |),
              |c AS (
              |  SELECT doc_id, tokens, ps, len(ps) AS nh,
              |         list_max([len(list_filter(ps, q -> q >= p AND q < p + 10))
              |                   * 1000000 - p FOR p IN ps]) AS packed
              |  FROM h WHERE len(ps) > 0
              |)
              |SELECT doc_id, CAST(nh AS BIGINT) AS n_hits_doc,
              |       CAST((packed + 999999) // 1000000 AS BIGINT) AS best_hits,
              |       CAST((packed + 999999) // 1000000 * 1000000 - packed AS BIGINT)
              |         AS best_start,
              |       array_to_string(tokens[CAST((packed + 999999) // 1000000 * 1000000
              |                                   - packed + 1 AS BIGINT) :
              |                              CAST((packed + 999999) // 1000000 * 1000000
              |                                   - packed + 10 AS BIGINT)], ' ')
              |         AS snippet
              |FROM c ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents
            .select(col("doc_id"), Text.tokenize(col("text")).as("tk"))
            .withColumn("ps", expr(
              """filter(transform(tk, (x, i) ->
                |  IF(x IN ('spark', 'window', 'shuffle'), i, -1)), p -> p >= 0)"""
                .stripMargin))
            .filter(size(col("ps")) > 0)
            .withColumn("w", expr(
              """array_max(transform(ps, p -> struct(
                |  size(filter(ps, q -> q >= p AND q < p + 10)) AS cnt,
                |  -p AS negp)))""".stripMargin))
            .select(col("doc_id"),
              size(col("ps")).cast("long").as("n_hits_doc"),
              col("w.cnt").cast("long").as("best_hits"),
              (-col("w.negp")).cast("long").as("best_start"),
              expr("array_join(slice(tk, -w.negp + 1, 10), ' ')").as("snippet")))
      }
    )

  private def proximityQ: Q =
    Q(
      "d3_search_proximity",
      Some(s"""WITH $toksCte,
              |pa AS (
              |  SELECT doc_id,
              |         unnest([i FOR i IN range(1, len(tokens) + 1)
              |                 IF tokens[i] = 'hash']) AS pa
              |  FROM toks
              |),
              |pb AS (
              |  SELECT doc_id,
              |         unnest([i FOR i IN range(1, len(tokens) + 1)
              |                 IF tokens[i] = 'join']) AS pb
              |  FROM toks
              |)
              |SELECT pa.doc_id, count(*) AS n_pairs,
              |       CAST(min(abs(pa.pa - pb.pb)) AS BIGINT) AS min_dist
              |FROM pa JOIN pb USING (doc_id)
              |WHERE abs(pa.pa - pb.pb) <= 3
              |GROUP BY 1
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val pos = t.documents
          .select(col("doc_id"), posexplode(Text.tokenize(col("text")))
            .as(Seq("pos", "term")))
        val pa = pos.filter(col("term") === "hash")
          .select(col("doc_id"), col("pos").as("pa"))
        val pb = pos.filter(col("term") === "join")
          .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
        ordered(
          pa.join(pb, col("doc_id") === col("doc_b") &&
              abs(col("pa") - col("pb")) <= 3)
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_pairs"),
              min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
        )
      }
    )

  /** D7: per-document Shannon character entropy (bits/char) — the
    * randomness gate that separates natural text (~4 bits) from base64
    * blobs, minified code, and key-mash spam, complementing the deflate
    * compressibility gate (d7_compression_ratio) with a closed-form,
    * dictionary-free signal. Exact-hash discipline (the d7_source_kl
    * recipe): per-character-class ln(p) is a ratio of exact BIGINTs,
    * rounded once to DECIMAL(20,12), weighted by the exact count, summed
    * exactly; the division by n and by ln(2) happens once, then round(4).
    * 100 TB shape: chars explode then immediately collapse to a per-doc
    * character-class histogram (≤ alphabet-size rows per doc) via one
    * hash aggregate with map-side partials; nothing downstream scales
    * with text length.
    */
  /** D7k: K-ANONYMITY AUDIT — the governance pass a training-data release
    * runs over quasi-identifiers (here: lang × source × size bucket):
    * every group's size k is its re-identification resistance; rows in
    * groups with k below the policy threshold are the disclosure risk.
    * Output is the k-distribution (groups and rows per k, violation flag)
    * — all integer, one hash aggregate over the QI tuple then one over k.
    * At 100 TB both aggregates take map-side partials; the QI relation is
    * bounded by the QI domain, never the corpus. */
  /** D2f: TOKENIZER FERTILITY — tokens-per-character by language, the
    * first number an LLM team checks about its tokenizer (high fertility
    * = the language pays more sequence length per content). Exact integer
    * sums, one rounded division per language; one hash aggregate over
    * the lang key. */
  private def fertilityQ: Q =
    Q(
      "d2_fertility",
      Some(s"""WITH $toksCte
              |SELECT d.lang,
              |       CAST(sum(len(t.tokens)) AS BIGINT) AS n_tokens,
              |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
              |       round(sum(len(t.tokens)) * 1.0 / sum(d.n_chars), 6)
              |         AS tokens_per_char,
              |       round(sum(d.n_chars) * 1.0 / sum(len(t.tokens)), 4)
              |         AS chars_per_token
              |FROM documents d JOIN toks t USING (doc_id)
              |GROUP BY d.lang
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.documents
            .select(col("lang"), col("n_chars"),
              size(Text.tokenize(col("text"))).as("nt"))
            .groupBy(col("lang"))
            .agg(sum(col("nt")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
            .select(col("lang"), col("n_tokens"), col("n_chars"),
              round(col("n_tokens") * 1.0 / col("n_chars"), 6)
                .as("tokens_per_char"),
              round(col("n_chars") * 1.0 / col("n_tokens"), 4)
                .as("chars_per_token")))
      }
    )

  private def kAnonymityQ: Q =
    Q(
      "d7_k_anonymity",
      Some("""WITH g AS (
             |  SELECT lang, source, n_chars // 500 AS size_b, count(*) AS k
             |  FROM documents GROUP BY 1, 2, 3
             |)
             |SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
             |       CAST(sum(k) AS BIGINT) AS n_rows,
             |       (k < 5) AS violates_k5
             |FROM g GROUP BY k
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val g = t.documents
          .groupBy(col("lang"), col("source"), expr("n_chars DIV 500").as("size_b"))
          .agg(count(lit(1)).as("k"))
        ordered(
          g.groupBy(col("k"))
            .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"))
            .select(col("k"), col("n_groups"), col("n_rows"),
              (col("k") < 5).as("violates_k5")))
      }
    )

  /** D7ld: L-DIVERSITY — k-anonymity's stronger sibling (Machanavajjhala
    * et al.): a quasi-identifier group can be large (k-safe) yet still
    * leak if every member shares the SAME sensitive value, so each group
    * must also contain at least l distinct sensitive values. Quasi-
    * identifiers here are (source, size bucket) and the sensitive
    * attribute is lang — "given where a doc came from and roughly how
    * long it is, how many languages could it be?". Pure integer: one
    * hash aggregate builds the groups (count + count-distinct), a second
    * histograms them by l. 100 TB shape: two map-side-partial
    * aggregates; output rides the distinct-l values. */
  private lazy val lDiversityQ = Q(
    "d7_l_diversity",
    Some("""WITH g AS (
           |  SELECT source, n_chars // 500 AS size_b,
           |         CAST(count(*) AS BIGINT) AS k,
           |         CAST(count(DISTINCT lang) AS BIGINT) AS l
           |  FROM documents GROUP BY 1, 2
           |)
           |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
           |       CAST(sum(k) AS BIGINT) AS n_rows,
           |       (l < 3) AS violates_l3
           |FROM g GROUP BY l
           |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val g = t.documents
        .groupBy(col("source"), expr("n_chars DIV 500").as("size_b"))
        .agg(count(lit(1)).as("k"), countDistinct(col("lang")).as("l"))
      ordered(
        g.groupBy(col("l"))
          .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"))
          .select(col("l"), col("n_groups"), col("n_rows"),
            (col("l") < 3).as("violates_l3")))
    }
  )

  private def charEntropyQ: Q =
    Q(
      "d7_char_entropy",
      Some("""WITH ch AS (
             |  SELECT doc_id,
             |         list_filter(string_split(text, ''), x -> x <> '') AS cs
             |  FROM documents
             |),
             |cc AS (
             |  SELECT doc_id, unnest(cs) AS c FROM ch
             |),
             |hist AS (SELECT doc_id, c, count(*) AS cnt FROM cc GROUP BY 1, 2),
             |n AS (SELECT doc_id, sum(cnt) AS n FROM hist GROUP BY 1),
             |terms AS (
             |  SELECT hist.doc_id, hist.cnt,
             |         CAST(round(ln(CAST(hist.cnt AS DOUBLE) / n.n), 12)
             |              AS DECIMAL(20,12)) AS lp
             |  FROM hist JOIN n USING (doc_id)
             |)
             |SELECT terms.doc_id, CAST(min(n.n) AS BIGINT) AS n_chars,
             |       count(*) AS n_classes,
             |       round(-CAST(sum(lp * cnt) AS DOUBLE) / min(n.n) / ln(2), 4)
             |         AS entropy_bits
             |FROM terms JOIN n USING (doc_id)
             |GROUP BY terms.doc_id
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val hist = t.documents
          .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
          .filter(col("c") =!= "")
          .groupBy(col("doc_id"), col("c"))
          .agg(count(lit(1)).as("cnt"))
        val n = hist.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n"))
        val lp = round(log(col("cnt").cast("double") / col("n")), 12)
          .cast("decimal(20,12)")
        ordered(
          hist.join(n, Seq("doc_id"))
            .select(col("doc_id"), col("cnt"), col("n"), lp.as("lp"))
            .groupBy(col("doc_id"))
            .agg(min(col("n")).as("n_chars"),
              count(lit(1)).as("n_classes"),
              round(-sum(col("lp") * col("cnt")).cast("double")
                / min(col("n")) / lit(math.log(2.0)), 4).as("entropy_bits"))
        )
      }
    )

  private def stopwordQ: Q = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "that", "it", "for", "on", "with", "as", "at", "by", "this", "be", "are")
    val stopSqlList = stop.map(w => s"'$w'").mkString("[", ", ", "]")
    Q(
      "d7_stopword_ratio",
      Some(s"""WITH $toksCte
              |SELECT doc_id, len(tokens) AS n_tokens,
              |       len(list_filter(tokens,
              |           x -> list_contains($stopSqlList, x))) AS n_stop,
              |       floor(CAST(len(list_filter(tokens,
              |             x -> list_contains($stopSqlList, x))) AS DOUBLE)
              |             / len(tokens) * 10000 + 0.5) / 10000 AS stop_ratio,
              |       CAST(len(list_filter(tokens,
              |             x -> list_contains($stopSqlList, x)))
              |            * 100 >= 6 * len(tokens) AS INTEGER) AS passes
              |FROM toks WHERE len(tokens) > 0
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val stopArr = array(stop.map(lit): _*)
        val toks = Text.tokenize(col("text"))
        val nStop = size(filter(toks, x => array_contains(stopArr, x)))
        ordered(
          t.documents
            .filter(size(toks) > 0)
            .select(col("doc_id"),
              size(toks).as("n_tokens"),
              nStop.as("n_stop"),
              // floor(x*1e4+0.5)/1e4: the cross-engine-exact rounding
              (floor(nStop.cast("double") / size(toks) * 10000 + 0.5) / 10000)
                .as("stop_ratio"),
              // integer-only gate: no IEEE compare at the threshold
              (nStop * 100 >= size(toks) * 6).cast("int").as("passes")))
      })
  }

  private def cmsEstimateQ: Q = Q(
    "a6_cms_estimate",
    Some(s"""WITH $toksCte,
            |tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
            |tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
            |seeds AS (SELECT unnest(range(0, 4)) AS seed),
            |sk AS (
            |  SELECT seed,
            |         ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' || term),
            |                            1, 15))::BIGINT % 64 AS bucket,
            |         CAST(sum(cnt) AS BIGINT) AS total
            |  FROM tf CROSS JOIN seeds GROUP BY 1, 2
            |),
            |top AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term ASC LIMIT 20)
            |SELECT t.term, t.cnt AS true_cnt, min(sk.total) AS cms_est
            |FROM top t CROSS JOIN seeds s
            |JOIN sk ON sk.seed = s.seed
            |       AND sk.bucket = ('0x' || substring(
            |             md5(CAST(s.seed AS VARCHAR) || ':' || t.term), 1, 15))::BIGINT % 64
            |GROUP BY 1, 2
            |ORDER BY ALL NULLS FIRST""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      def bucket(seed: org.apache.spark.sql.Column, term: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(concat(seed.cast("string"), lit(":"), term)), 1, 15),
          16, 10).cast("long"), lit(64L))
      val tf = t.documents
        .select(explode(Text.tokenize(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .cut(Shared) // feeds the sketch build AND the probe side
      val seeds = spark.range(0, 4).select(col("id").cast("int").as("seed"))
      val sk = tf.crossJoin(broadcast(seeds))
        .groupBy(col("seed"), bucket(col("seed"), col("term")).as("bucket"))
        .agg(sum(col("cnt")).as("total"))
      val top = tf.orderBy(col("cnt").desc, col("term").asc).limit(20)
      ordered(
        top.crossJoin(broadcast(seeds))
          .select(col("term"), col("cnt"), col("seed"),
            bucket(col("seed"), col("term")).as("bucket"))
          .join(sk, Seq("seed", "bucket"))
          .groupBy(col("term"), col("cnt"))
          .agg(min(col("total")).as("cms_est"))
          .select(col("term"), col("cnt").as("true_cnt"), col("cms_est")))
    }
  )
}
