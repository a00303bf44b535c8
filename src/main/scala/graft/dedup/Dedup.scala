package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.Materialize.{CutSyntax, Iter, Shared}
import graft.sources.Scans.WidenSyntax

/** Deduplication operators for the LLM-pipeline mandate (SURVEY.md §2.9
  * D4/D5 + BASELINE.json north_star).
  *
  * Scale design: every variant is shuffle-shaped (groupBy / band-join),
  * never a driver-side loop. Exact dedup is one hash aggregate. MinHash
  * signatures are computed per-row (no shuffle at all until the band
  * join), so candidate generation touches only docs sharing a band
  * bucket — the classic LSH trick that turns O(n²) pair comparison into
  * O(n·bands + matches). All hash seeds are fixed, so results are
  * deterministic and oracle-reproducible (min over md5 hex strings,
  * identical in DuckDB).
  */
object Dedup {

  /** Intersection size of two ASC-sorted bigint arrays via the native
    * zero-allocation merge ([[graft.plans.IntersectCountSortedI64]]) —
    * equals `size(array_intersect(a, b))` on sorted inputs. */
  private def isectCountSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.IntersectCountSortedI64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact dedup by content hash: one row per distinct content, keeper =
    * min id (deterministic, unlike dropDuplicates' arbitrary row). */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(sha2(text, 256).as("content_sha"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Survivors of exact dedup: the keeper row per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, col(idCol), col(textCol))
      .select(col("keeper_id").as(idCol))
    df.join(keep, idCol)
  }

  /** MinHash universal-hash family: h_seed(x) = (x * a_seed + b_seed)
    * mod P over the 60-bit md5 prefix of the shingle, P = 2^31 - 1.
    * ONE md5 per shingle row (the expensive op), then each seed is two
    * integer ops — 8x fewer digests than hashing seed||shingle per
    * seed, same minwise property, and every term is exact BIGINT
    * arithmetic DuckDB reproduces digit-for-digit (operands < 2^31 keep
    * products < 2^62: no overflow in either engine). */
  val MinhashP = 2147483647L // 2^31 - 1, prime
  def minhashA(seed: Int): Long = ((2L * seed + 1L) * 1103515245L) % MinhashP
  def minhashB(seed: Int): Long = (seed.toLong * 40503L + 12345L) % MinhashP

  /** Per-doc MinHash signature ARRAY (length numHashes):
    * signature[seed] = min over shingles of h_seed(base(shingle)), with
    * base = first 60 md5 bits mod P (see [[MinhashP]]).
    *
    * Shape matters for codegen: explode shingles, ONE md5 per row bound
    * to its own column (so Catalyst cannot inline the digest once per
    * seed), the numHashes derived hashes as PLAIN expressions
    * (whole-stage codegen'd — higher-order `transform` lambdas are
    * interpreted and ~10x slower here), then all component minimums in
    * ONE aggregate with map-side partials. Long (not string) signature
    * components keep that aggregate a HashAggregate with fixed-width
    * buffers — min(string) would demote the whole stage to sort-based
    * aggregation. */
  def minhashSignatures(
      docs: DataFrame, // (doc_id, text)
      shingleWidth: Int,
      numHashes: Int
  ): DataFrame =
    // no distinct(): duplicate shingles cannot change a minimum, and
    // dropping it removes an entire shuffle of the shingle strings.
    // widen: the shingle+md5 map side is the expensive pass (guide §2.5)
    minhashSignaturesFromShingles(
      docs.widen(col("doc_id")).select(col("doc_id"),
        explode(Text.shingles(Text.tokenize(col("text")), shingleWidth))
          .as("shingle")),
      numHashes)

  /** [[minhashSignatures]] from an existing `(doc_id, shingle)` posting
    * relation — the entry point when the caller already materialized the
    * postings for other passes (exact-Jaccard legs, df counts): one cut
    * relation then feeds every consumer instead of re-running the
    * tokenize→shingle scan per pass. Duplicate or distinct postings give
    * the same signature (min is idempotent), so both call shapes are
    * hash-identical. */
  def minhashSignaturesFromShingles(
      sh: DataFrame, // (doc_id, shingle)
      numHashes: Int
  ): DataFrame = {
    val based = sh
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"),
          lit(MinhashP)).as("base"))
    val hashes = (0 until numHashes).map(seed =>
      pmod(col("base") * minhashA(seed) + minhashB(seed), lit(MinhashP)).as(s"h$seed"))
    val mins = (0 until numHashes).map(seed => min(col(s"h$seed")).as(s"s$seed"))
    based.select(col("doc_id") +: hashes: _*)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(s => col(s"s$s")): _*).as("sig"))
  }

  /** Per-ROW MinHash signature as one column expression (no explode, no
    * aggregate) — bit-identical to [[minhashSignatures]] but stateless:
    * safe inside a streaming query (a groupBy signature would need a
    * state store; this needs nothing). Null when the doc has fewer than
    * `shingleWidth` tokens. The outer `transform(array(...))` binds the
    * md5-base array ONCE; referencing it per seed would re-run the
    * whole shingle→md5 pipeline numHashes times. */
  def minhashSigRow(text: Column, shingleWidth: Int, numHashes: Int): Column = {
    val bases = transform(
      Text.shingles(Text.tokenize(text), shingleWidth),
      s => pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(MinhashP)))
    flatten(transform(array(bases), bs =>
      when(size(bs) > 0,
        array((0 until numHashes).map(seed =>
          array_min(transform(bs,
            b => pmod(b * minhashA(seed) + minhashB(seed), lit(MinhashP))))): _*))))
  }

  /** LSH band keys of a signature: one string key per band
    * ("band,slot1,slot2"), identical to the batch band join keys. */
  def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val nBands = numHashes / rowsPerBand
    transform(sequence(lit(0), lit(nBands - 1)),
      b => concat_ws(",", b.cast("string"),
        sort_array(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).cast("array<string>")))
  }

  /** MinHash+LSH near-dup candidate pairs with their estimated Jaccard
    * (fraction of agreeing signature components). Bands of `rowsPerBand`
    * signature slots are concatenated into one bucket key; docs sharing
    * any bucket become candidates; the estimate (computed directly from
    * the signature arrays riding along the join) then filters.
    */
  def minhashPairs(
      docs: DataFrame,
      shingleWidth: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    // materialize the signatures ONCE: they feed both sides of the band
    // self-join below, and without a cut Spark re-derives the whole
    // shingle->hash->min pipeline (the expensive corpus scan) per side.
    // At 100 TB this is a persisted signatures table (see [[writeIndex]]
    // / [[minhashPairsFromSignatures]] — the d5_lsh_persisted leg).
    minhashPairsFromSignatures(
      minhashSignatures(docs, shingleWidth, numHashes).cut(Shared),
      numHashes, rowsPerBand, minEstJaccard)
  }

  /** Ingest-time write of the dedup backbone: the per-doc MinHash
    * signature table as parquet (DEPLOY.md §3 bullet 2). A production
    * pipeline writes this ONCE per ingest; every near-dup query then
    * plans from the index and never re-scans the corpus text —
    * `d5_lsh_persisted` is the hash-checked proof (same rows as the
    * live `d5_minhash_pairs`, plan contains a parquet scan of the index
    * and zero md5/tokenize work). */
  def writeIndex(
      docs: DataFrame,
      path: String,
      shingleWidth: Int = 3,
      numHashes: Int = 16): Unit =
    minhashSignatures(docs, shingleWidth, numHashes)
      .write.mode("overwrite").parquet(path)

  /** The band-join half of [[minhashPairs]], from an existing
    * `(doc_id, sig)` signature relation — live (cut) or persisted
    * (parquet index read back). Bit-identical output either way. */
  def minhashPairsFromSignatures(
      sigs: DataFrame,
      numHashes: Int = 16,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bands = sigs.select(col("doc_id"), col("sig"),
        // "," separator: numeric components would otherwise collide on
        // concatenation ("12"+"3" == "1"+"23")
        explode(transform(sequence(lit(0), lit(nBands - 1)),
          b => struct(b.as("band"),
            concat_ws(",", sort_array(slice(col("sig"), b * rowsPerBand + 1,
              lit(rowsPerBand)))).as("band_key")))).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val x = bands.select(col("doc_id").as("a"), col("sig").as("sa"),
      col("band"), col("band_key"))
    val y = bands.select(col("doc_id").as("b"), col("sig").as("sb"),
      col("band"), col("band_key"))
    x.join(y, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb"))
      .distinct()
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sa"), col("sb"), (p, q) => p === q),
          m => m)) / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Exact n-gram Jaccard for doc pairs that share at least one shingle
    * (inverted-index join, no cross product).
    *
    * `maxShingleDf` is the 100 TB safety valve: a stop-shingle shared by
    * most of the corpus makes its inverted-index bucket quadratic (every
    * co-occurring doc pair joins through it). Capping document frequency
    * drops those buckets before the self-join — the standard
    * posting-list-truncation trade (hot shingles carry almost no Jaccard
    * signal anyway, but exact parity with the uncapped oracle is lost, so
    * the default is off). The hot set is tiny by construction (few
    * shingles can exceed a large df), so it broadcasts.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      shingleWidth: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleDf: Long = Long.MaxValue,
      withCounts: Boolean = false // also emit exact (inter, un) integers
  ): DataFrame = {
    // shingle identity = its xxhash64: the distinct + self-join shuffle
    // 8-byte longs instead of ~30-char strings. Collision odds over n
    // distinct shingles are ~n^2/2^64 (≈1e-8 at one billion shingles);
    // the oracle joins on the raw string and agrees.
    val exploded = docs.widen(col("doc_id"))
      .select(col("doc_id"),
        explode(Text.shingles(Text.tokenize(col("text")), shingleWidth)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .distinct()
    // materialize the posting list ONCE: it feeds the self-join (twice)
    // and both size lookups — four full corpus re-tokenizations without
    // the cut. At 100 TB this is the persisted inverted index.
    val sh = (
      if (maxShingleDf == Long.MaxValue) exploded
      else {
        val hot = exploded.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select(col("shingle"))
        exploded.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    ).cut(Shared)
    // sizes AFTER the cap: both the intersection and the union see the
    // same truncated shingle sets, so jaccard stays a true Jaccard of
    // the capped sets (and is still 1.0 for identical docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select((Seq(col("a"), col("b")) ++
        (if (withCounts)
          Seq(col("inter"), (col("na") + col("nb") - col("inter")).as("un"))
        else Seq.empty) :+ col("jaccard")): _*)
  }

  /** Directed containment-similarity join: C(A→B) = |A∩B| / |A| over
    * n-gram shingle SETS — the asymmetric companion to
    * [[ngramJaccardPairs]]. Jaccard misses the quote/boilerplate case
    * (a short doc fully embedded in a long one scores |A|/|B| ≈ 0);
    * containment flags it at 1.0. Emits ORDERED pairs (a contained in
    * b), so a sub-document fires a→b without the reverse.
    *
    * Same inverted-index backbone as the Jaccard join (xxhash64 shingle
    * identities, one posting-list materialization feeding the self-join
    * and the size lookup); the denominator is the CONTAINED side's set
    * size only. At 100 TB the same hot-shingle df valve applies —
    * containment's skew profile is identical to Jaccard's because the
    * candidate generation is the same join.
    */
  def containmentPairs(
      docs: DataFrame,
      shingleWidth: Int = 3,
      minContainment: Double = 0.9
  ): DataFrame = {
    val sh = docs.widen(col("doc_id"))
      .select(col("doc_id"),
        explode(Text.shingles(Text.tokenize(col("text")), shingleWidth)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .distinct()
      .cut(Shared)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= minContainment)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Prefix-filtered set-similarity join (PPJoin / Vernica et al.,
    * SIGMOD'10, distributed form) — same OUTPUT as [[ngramJaccardPairs]],
    * different candidate cost: shingles get a global canonical order
    * (df ascending, hash ascending) and only each doc's PREFIX — its
    * first |x| - ⌈t·|x|⌉ + 1 shingles, the rarest ones — enters the
    * posting-list self-join. Prefix-filter lemma: two sets with
    * Jaccard ≥ t must share an element inside BOTH prefixes (if the
    * smallest common token weren't in x's prefix, all common tokens
    * would sit in x's ⌈t|x|⌉-1 suffix — fewer than the ≥ t·|x| the
    * threshold forces), so pruning is LOSSLESS — which is exactly what
    * the oracle hash-check proves. Candidates then verify against the
    * full sorted shingle arrays (array_intersect), never the corpus.
    *
    * At 100 TB this changes the dominant term: the self-join's fan-out
    * rides df-ranked prefixes (rare shingles, short posting lists)
    * instead of every posting — the hot-shingle tail never generates
    * candidates at all.
    */
  def jaccardPairsPrefix(
      docs: DataFrame,
      shingleWidth: Int = 3,
      minJaccard: Double = 0.5
  ): DataFrame = {
    val perDoc = prefixIndex(docs, shingleWidth, minJaccard)
    // PPJoin+ candidate generation: length + position prunes live in
    // the join condition (see ppjoinCond), so pruned pairs never reach
    // the exchange feeding the distinct
    val prefix = prefixPostings(perDoc)
    val cands = prefix.as("x")
      .join(prefix.as("y"), ppjoinCond(minJaccard))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // verify: intersection size per candidate pair. `set` is canonical-
    // (df, hash)-ordered for the prefix lemma; the verify count doesn't
    // care about order, so each doc's set is VALUE-sorted once at the
    // join input and the per-pair count becomes a zero-allocation
    // linear merge (IntersectCountSortedI64 — bit-equal to the retired
    // size(array_intersect(sa, sb)), parity-spec'd) instead of a
    // per-pair hash-set build (measured ~7 µs/pair over 125k pairs at
    // sf0.1, the row's single hottest expression — guide §4).
    cands
      .join(perDoc.select(col("doc_id").as("a"),
        array_sort(col("set")).as("sa"), col("n_sh").as("na")), "a")
      .join(perDoc.select(col("doc_id").as("b"),
        array_sort(col("set")).as("sb"), col("n_sh").as("nb")), "b")
      .withColumn("inter", isectCountSorted(col("sa"), col("sb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The PPJoin per-doc index: the (df, shingle) canonical-sorted array
    * gives the prefix (a slice), the verify set (a transform) and the
    * size in ONE per-doc aggregate — no window passes, and one
    * materialization (the per-doc index at scale) feeds the candidate
    * join and both verify sides. */
  private[graft] def prefixIndex(
      docs: DataFrame, shingleWidth: Int, minJaccard: Double): DataFrame = {
    val exploded = docs.widen(col("doc_id"))
      .select(col("doc_id"),
        explode(Text.shingles(Text.tokenize(col("text")), shingleWidth)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .distinct()
      .cut(Shared) // feeds the df count and the df join — one tokenize
    val df = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    exploded.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("arr"))
      .select(col("doc_id"),
        expr("transform(arr, x -> x.shingle)").as("set"),
        size(col("arr")).as("n_sh"),
        expr(s"""transform(
                   slice(arr, 1, cast(size(arr) - ceil(size(arr) * $minJaccard)
                                      + 1 as int)),
                   x -> x.shingle)""").as("prefix"))
      .cut(Shared)
  }

  /** Position-carrying prefix postings of [[prefixIndex]]. */
  private[graft] def prefixPostings(perDoc: DataFrame): DataFrame =
    perDoc.select(col("doc_id"), col("n_sh"),
      posexplode(col("prefix")).as(Seq("pos", "shingle")))

  /** PPJoin+ candidate join condition over two [[prefixPostings]] sides
    * aliased `x`/`y`: shared prefix shingle + doc-id dedup order, plus
    * the two LOSSLESS prunes (switchable so the recount diagnostic can
    * price each filter's contribution):
    *   - length filter: Jaccard >= t forces t·|x| <= |y| <= |x|/t;
    *   - position filter (the PPJoin "+"): matching at positions
    *     (px, py) bounds the overlap above by 1 + min(na-px-1, nb-py-1)
    *     (everything before the match is disjoint by canonical order);
    *     if that bound misses the required overlap
    *     α = ⌈t·(na+nb)/(1+t)⌉ (Jaccard>=t ⟺ inter >= α), the pair is
    *     dead on arrival.
    * Both prunes run inside the join's generated code, so pruned pairs
    * never reach the exchange feeding the candidate distinct. */
  private[graft] def ppjoinCond(
      t: Double,
      lengthFilter: Boolean = true,
      positionFilter: Boolean = true): Column = {
    val base = col("x.shingle") === col("y.shingle") &&
      col("x.doc_id") < col("y.doc_id")
    val len = col("y.n_sh") * lit(t) <= col("x.n_sh") &&
      col("x.n_sh") * lit(t) <= col("y.n_sh")
    val pos = (lit(1) + least(col("x.n_sh") - col("x.pos") - 1,
                              col("y.n_sh") - col("y.pos") - 1)) >=
      ceil(lit(t) * (col("x.n_sh") + col("y.n_sh")) / lit(1 + t))
    Seq(Some(base), if (lengthFilter) Some(len) else None,
      if (positionFilter) Some(pos) else None).flatten.reduce(_ && _)
  }

  /** 32-bit SimHash over tokens: per-bit majority vote of token-hash bits,
    * where token bit i = parity of hex digit i of md5(token). ONE md5 per
    * token: each token contributes a ±1 vote vector, votes are summed
    * element-wise in a single fold, then sign bits pack into a long. */
  def simhash32(tokens: Column): Column = {
    val hexDigits = lit("0123456789abcdef")
    // ±1 vote vector for one token, from its single md5
    def tokenVotes(t: Column): Column = {
      val h = md5(t)
      transform(sequence(lit(1), lit(32)),
        j => when((instr(hexDigits, h.substr(j, lit(1))) - 1) % 2 === 1, 1L)
          .otherwise(-1L))
    }
    val votes = aggregate(
      tokens,
      array_repeat(lit(0L), 32),
      (acc, t) => zip_with(acc, tokenVotes(t), (a, b) => a + b)
    )
    val powers = typedLit((0 until 32).map(i => 1L << i))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v >= 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash values (popcount of XOR). */
  def hamming32(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Corpus-scale SimHash: (doc_id, simhash) for every doc with >= 1
    * token. Same value as [[simhash32]], different shape: explode tokens
    * (duplicates kept — every occurrence votes), ONE md5 per token row,
    * 32 plain ±1 vote columns, then 32 sums in a single hash aggregate.
    * Everything stays in whole-stage codegen; the shuffle carries 32
    * longs per doc. */
  def simhashes(docs: DataFrame): DataFrame = {
    val tok = docs.widen(col("doc_id"))
      .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("t"))
      .withColumn("h", md5(col("t")))
      // bit i's vote is the PARITY of hex digit i — i.e. bit 0 of the
      // digit. Two 15-digit conv()s + one 2-digit conv turn the hex
      // string into longs once, then every vote is a shift+mask instead
      // of a per-bit substring+instr (32 string ops -> 3 + 32 int ops
      // per token row). Values are identical to the digit-parity oracle.
      .withColumn("n1", conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
      .withColumn("n2", conv(substring(col("h"), 16, 15), 16, 10).cast("long"))
      .withColumn("n3", conv(substring(col("h"), 31, 2), 16, 10).cast("long"))
    def digitBit(i: Int) = // bit 0 of hex digit i of the md5
      if (i < 15) shiftright(col("n1"), 4 * (14 - i)).bitwiseAND(lit(1L))
      else if (i < 30) shiftright(col("n2"), 4 * (29 - i)).bitwiseAND(lit(1L))
      else shiftright(col("n3"), 4 * (31 - i)).bitwiseAND(lit(1L))
    val votes = (0 until 32).map(i =>
      when(digitBit(i) === 1L, 1L).otherwise(-1L).as(s"v$i"))
    val sums = (0 until 32).map(i => sum(col(s"v$i")).as(s"vs$i"))
    val packed = (0 until 32).map(i =>
      when(col(s"vs$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
    tok.select(col("doc_id") +: votes: _*)
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), packed.reduce(_ + _).as("simhash"))
  }

  /** Connected components over an undirected pair graph — the stage that
    * turns near-dup PAIRS (minhash/simhash/jaccard candidates) into
    * dedup CLUSTERS: transitive closure, component label = min doc_id.
    *
    * Algorithm: distributed min-label propagation. Each round joins the
    * current labels across the (symmetrized) edge list and takes the
    * per-node min — one shuffle join + one hash aggregate per round, no
    * driver-side data. The driver only checks a did-anything-change
    * scalar. Rounds = graph diameter; near-dup graphs are
    * diameter-bounded by construction (a chain of pairwise-similar docs
    * drifts apart quickly), so this converges in a handful of rounds.
    * For adversarial diameters the alternating large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") trades more complex rounds for an O(log^2 n) bound; the
    * survey's dedup graphs do not need it.
    *
    * Scale shape: runs ONLY over edge-endpoint nodes (the ~0.1% of a
    * corpus that has any near-dup candidate), never over the full
    * corpus — assignment back to the corpus is the caller's left join
    * (see d5_dedup_clusters). localCheckpoint per round truncates the
    * lineage so plan size stays O(1) in the round count.
    *
    * @param edges two Long columns `a`, `b` (one row per undirected pair)
    * @return (id, comp) — comp = min node id reachable from id
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .cut(Shared)
    // initialization folds in round 1: comp = min(id, direct neighbors).
    // For the dominant case (isolated pairs/triangles) this IS the fixed
    // point, so the loop below runs exactly one confirming round.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("id"), col("comp"))
      .cut(Iter)
    // convergence signal: the node set is fixed after initialization and
    // labels only ever DECREASE (in the id ordering), so for NUMERIC ids
    // sum(comp) is strictly monotone until the fixpoint — an exact change
    // detector for the price of one aggregate instead of a per-round
    // shuffle join. decimal(38,0) so no overflow for any Long id sum.
    // Non-numeric ids (e.g. filename-keyed graphs) keep the exact join.
    val numericIds = labels.schema("comp").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty graph
    }
    var prevSum = if (numericIds) labelSum(labels) else null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaEdges = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      val next = labels.union(viaEdges)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .cut(Iter)
      if (numericIds) {
        val s = labelSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else {
        converged = next.as("n")
          .join(labels.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.comp") =!= col("p.comp"))
          .limit(1).count() == 0L
      }
      labels = next
      iter += 1
    }
    labels
  }

  /** Exact substring deduplication spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — public paper), in the
    * shuffle-friendly fixed-n form: an n-gram occurring in >= 2 DISTINCT
    * docs marks a duplicated span; per doc, overlapping spans merge into
    * islands via a gaps-and-islands window. One gram-df aggregate + one
    * join + one per-doc window — no all-pairs anything.
    *
    * @param portableHash true = md5 gram keys (32-char hex, reproducible
    *   in any engine — the oracle mode); false = xxhash64 keys (8-byte
    *   longs on the shuffle — the 100 TB mode, 4x lighter join keys).
    *   Both produce identical islands (hash-agnostic by spec).
    * @return (doc_id, n_tok, n_dup_spans, dup_tokens) for docs containing
    *   at least one cross-doc duplicated span
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 8,
      portableHash: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.widen(col("doc_id"))
      .select(col("doc_id"), Text.tokenize(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= n)
    val joined = array_join(slice(col("tokens"), col("s"), lit(n)), " ")
    val gram = if (portableHash) md5(joined) else xxhash64(joined)
    val grams = toks
      .select(col("doc_id"), size(col("tokens")).as("n_tok"), col("tokens"),
        explode(sequence(lit(1), size(col("tokens")) - (n - 1))).as("s"))
      .select(col("doc_id"), col("n_tok"), col("s"), gram.as("gram"))
      // both the df aggregate and the span join consume the gram
      // relation: materialize once instead of re-tokenizing the corpus
      .cut(Shared)
    val dupg = grams.select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("gram"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val spans = grams.join(dupg, Seq("gram"))
      .select(col("doc_id"), col("n_tok"), col("s"), (col("s") + n - 1).as("e"))
      .withColumn("prev_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_e").isNull || col("s") > col("prev_e"), 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
    spans.groupBy(col("doc_id"), col("island"))
      .agg(max(col("n_tok")).as("n_tok"),
        min(col("s")).as("i_s"), max(col("e")).as("i_e"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).cast("long").as("n_tok"),
        count(lit(1)).as("n_dup_spans"),
        sum(col("i_e") - col("i_s") + 1).cast("long").as("dup_tokens"))
  }

  /** Connected components via alternating large-star / small-star
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public paper): converges in O(log^2 n) rounds
    * REGARDLESS of graph diameter, where [[connectedComponents]]' plain
    * min-label propagation needs O(diameter) rounds. Same contract and
    * output as [[connectedComponents]]; choose this variant when the
    * pair graph may contain long chains (adversarial / unknown corpus).
    *
    * large-star links every node's LARGER neighbors to its neighborhood
    * minimum; small-star links the node itself and its smaller
    * neighbors to that minimum. Both preserve connectivity; the fixed
    * point is a forest of stars rooted at each component's min node.
    * Each half-step is one co-partitioned shuffle join + one hash
    * aggregate over the current edge set — never the corpus — and the
    * edge set only shrinks toward the star forest, so per-round cost
    * falls as the run progresses.
    */
  def connectedComponentsLogStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()
    def sym(df: DataFrame): DataFrame =
      df.select(col("a").as("u"), col("b").as("v"))
        .union(df.select(col("b").as("u"), col("a").as("v")))
    def step(e: DataFrame, large: Boolean): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      val linked = s.join(mins, "u")
      val out =
        if (large) linked.filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
        else linked.filter(col("v") < col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(mins.select(col("u").as("a"), col("m").as("b")))
      canon(out)
    }
    var e = canon(edges).cut(Iter)
    var prevCount = e.count()
    var converged = prevCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = step(step(e, large = true), large = false).cut(Iter)
      // edge-set fixed point, exactly: both sets are distinct-canonical,
      // so equal counts + (next \ e) empty  ⟺  set equality — one count
      // on checkpointed data + ONE anti-join, not two
      val nextCount = next.count()
      converged = nextCount == prevCount &&
        next.join(e, Seq("a", "b"), "left_anti").limit(1).count() == 0L
      prevCount = nextCount
      e = next
      iter += 1
    }
    // the fixed point is a star forest: every edge is (root, member)
    e.select(col("b").as("id"), col("a").as("comp"))
      .union(e.select(col("a").as("id"), col("a").as("comp")))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
  }

  // ---- Bloom-filter novelty (D4 at ingest scale) ----
  //
  // "Which incoming docs has the corpus already seen?" without shuffling
  // the corpus against the incoming batch: build a Bloom filter OVER the
  // corpus keys as a tiny words table (one hash aggregate), broadcast it,
  // and probe incoming keys with k portable hashes. No false negatives by
  // construction; false positives are DETERMINISTIC here because the hash
  // family is the md5-derived one the oracle reproduces — so the whole
  // op, FPs included, is exact-hash-checkable in SQL. 62 usable bits per
  // BIGINT word keep `1 << bit` positive in every engine.

  /** Bit position of hash `seed` for `key` in a Bloom filter of
    * `words * 62` bits: the engine-portable md5 family. */
  def bloomPos(key: Column, seed: Int, words: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$seed:"), key)), 1, 15), 16, 10)
      .cast("long"), lit(words * 62L))

  /** All `numHashes` bit positions of `key`, as one exploded column. */
  private def bloomPositions(key: Column, words: Int, numHashes: Int): Column =
    explode(array((0 until numHashes).map(s => bloomPos(key, s, words)): _*))

  /** The Bloom filter as data: (word, bits) rows — one BIGINT per word,
    * bit_or of all corpus keys' hash bits. Fixed size regardless of
    * corpus size: the 100 TB corpus compresses to `words` rows through
    * one map-side-partial hash aggregate. */
  def bloomWords(corpusKeys: DataFrame, keyCol: String, words: Int,
      numHashes: Int): DataFrame =
    corpusKeys
      .select(bloomPositions(col(keyCol), words, numHashes).as("pos"))
      .select(expr("pos DIV 62").as("word"), (col("pos") % 62).cast("int").as("bit"))
      .groupBy(col("word"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), bit))").as("bits"))

  /** Probe: one `maybe_seen` verdict per incoming key. All k hash probes
    * must hit set bits; a missing word row means an unset bit (left join
    * + coalesce 0). The join is a BROADCAST against the words-row filter,
    * so the incoming batch never shuffles against the corpus — the whole
    * point of the op at ingest scale. */
  def bloomProbe(incoming: DataFrame, keyCol: String, bloom: DataFrame,
      words: Int, numHashes: Int): DataFrame =
    incoming
      .select(col(keyCol), bloomPositions(col(keyCol), words, numHashes).as("pos"))
      .select(col(keyCol), expr("pos DIV 62").as("word"),
        (col("pos") % 62).cast("int").as("bit"))
      .join(broadcast(bloom), Seq("word"), "left")
      .select(col(keyCol),
        (coalesce(col("bits"), lit(0L))
          .bitwiseAND(expr("shiftleft(cast(1 as bigint), bit)")) =!= 0L)
          .cast("int").as("hit"))
      .groupBy(col(keyCol))
      // min, not sum: a duplicate incoming key doubles every hit row, so a
      // count-based verdict (sum === numHashes) would report a corpus-present
      // key as novel — a false negative the no-false-negatives guarantee
      // forbids. min(hit) === 1 ⇔ every probe position is set, and duplicate
      // probe rows collapse harmlessly in the same aggregate.
      .agg((min(col("hit")) === 1).as("maybe_seen"))
}
