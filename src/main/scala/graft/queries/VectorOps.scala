package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Canon._
import graft.functions.{Bounded, Centroid, Vectors}
import graft.Repo
import graft.sources.Tables
import graft.Materialize.{CutSyntax, Iter, Shared}

/** Similarity search + vector aggregation over the embeddings table —
  * SURVEY.md §2.9 D6 + §2.4 A10 (LLM-pipeline mandate).
  *
  * Brute-force top-k is the correctness baseline: broadcast the (small)
  * query set against the full corpus — one scan, no shuffle of the corpus.
  * The 100 TB path is sign-LSH: bucket both sides on hyperplane sign bits,
  * equi-join on bucket, rerank candidates exactly; corpus-side work drops
  * from |Q|×|C| to the bucket collision set.
  *
  * Dot products are strict left folds in double ([[Vectors.dot]]), so the
  * scores are reproducible enough to exact-hash-match the DuckDB oracle
  * after round(4).
  */
object VectorOps {

  /** DuckDB twin of [[Vectors.lshTables]] over a double-list column `v`:
    * the same md5-derived plane family ([[Vectors.planeCoef]]), the same
    * left-fold projection, the same `table * 2^k + bucket` key packing —
    * so bucket assignment is exact-hash-checkable across engines. */
  private def lshKeysSql(v: String, planesPerTable: Int, nTables: Int): String = {
    val tables = (0 until nTables).map { t =>
      val bits = (0 until planesPerTable).map { p =>
        val plane = t * planesPerTable + p
        s"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[$v[i] * (('0x' || substring(md5('$plane:' || (i - 1)), 1, 15))::BIGINT " +
          s"/ 1152921504606846976.0 * 2 - 1) FOR i IN range(1, len($v) + 1)]), " +
          s"(acc, x) -> acc + x) >= 0.0 THEN ${1L << p} ELSE 0 END)"
      }
      s"(${bits.mkString(" + ")} + ${t.toLong * (1L << planesPerTable)})"
    }
    s"[${tables.mkString(", ")}]"
  }

  /** DuckDB cosine over two double-list columns — the strict-left-fold
    * formula bit-identical to [[Vectors.cosineFast]]. */
  private def cosSql(a: String, b: String): String =
    s"(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[$a[i] * $b[i] FOR i IN range(1, len($a) + 1)]), (acc, x) -> acc + x) " +
      s"/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[$a[i] * $a[i] FOR i IN range(1, len($a) + 1)]), (acc, x) -> acc + x)) " +
      s"* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[$b[i] * $b[i] FOR i IN range(1, len($b) + 1)]), (acc, x) -> acc + x))))"

  /** DuckDB squared-L2 over two float-list columns — the strict-left-fold
    * twin of [[graft.functions.Pq.d2]] (per-element double casts, then a
    * left fold), so subspace distances match bit-for-bit. */
  private def d2Sql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE) " +
      s"FOR i IN range(1, len($a) + 1)]), (acc, x) -> acc + x)"

  /** Shared by d6_ivfpq_search (live) and d6_ivfpq_persisted (index
    * twin): persistence is transparent — one oracle text hash-checks
    * BOTH legs (the d5_minhash_pairs / d5_lsh_persisted recipe). */
  private lazy val ivfpqOracle: Option[String] = Some(
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |ed AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |icents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, v FROM ed WHERE vec_id >= 20),
              |qd AS (SELECT vec_id AS q_id, v AS qv FROM ed WHERE vec_id < 20),
              |ascore AS (
              |  SELECT corpus.vec_id, icents.cluster,
              |         ${cosSql("corpus.v", "icents.cv")} AS sim
              |  FROM corpus CROSS JOIN icents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |pscore AS (
              |  SELECT q.q_id, icents.cluster,
              |         ${cosSql("q.qv", "icents.cv")} AS sim
              |  FROM qd q CROSS JOIN icents
              |),
              |probes AS (
              |  SELECT q_id, cluster FROM (
              |    SELECT q_id, cluster,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY sim DESC, cluster ASC) AS pr
              |    FROM pscore)
              |  WHERE pr <= 2
              |),
              |cand AS (
              |  SELECT p.q_id, a.vec_id FROM probes p JOIN asg a USING (cluster)
              |),
              |pcents AS (
              |  SELECT sub, cluster, centroid
              |  FROM '${Repo.fixture("pq_centroids.parquet")}'
              |),
              |subs AS (SELECT unnest(range(8)) AS sub),
              |csv AS (
              |  SELECT e.vec_id, s.sub,
              |         e.embedding[s.sub*8+1 : s.sub*8+8] AS subvec
              |  FROM e CROSS JOIN subs s WHERE e.vec_id >= 20
              |),
              |scored AS (
              |  SELECT csv.vec_id, csv.sub, c.cluster,
              |         ${d2Sql("csv.subvec", "c.centroid")} AS d2
              |  FROM csv JOIN pcents c USING (sub)
              |),
              |codes AS (
              |  SELECT vec_id, sub,
              |         CAST(9999 - ((((max(CAST(round((0.0 - d2) * 1e13) AS HUGEINT)
              |                             * 10000 + (9999 - cluster))) % 10000)
              |                       + 10000) % 10000) AS INTEGER) AS code
              |  FROM scored GROUP BY vec_id, sub
              |),
              |qsv AS (
              |  SELECT e.vec_id AS q_id, s.sub,
              |         e.embedding[s.sub*8+1 : s.sub*8+8] AS qsub
              |  FROM e CROSS JOIN subs s WHERE e.vec_id < 20
              |),
              |dtable AS (
              |  SELECT q.q_id, q.sub, c.cluster AS code,
              |         CAST(round(${d2Sql("q.qsub", "c.centroid")}, 9)
              |              AS DECIMAL(28,9)) AS dd
              |  FROM qsv q JOIN pcents c USING (sub)
              |),
              |adc AS (
              |  SELECT cn.q_id, cn.vec_id, sum(d.dd) AS adc
              |  FROM cand cn
              |  JOIN codes k ON k.vec_id = cn.vec_id
              |  JOIN dtable d ON d.q_id = cn.q_id AND d.sub = k.sub
              |                AND d.code = k.code
              |  GROUP BY cn.q_id, cn.vec_id
              |),
              |short AS (
              |  SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY adc ASC, vec_id ASC) AS srn
              |    FROM adc) WHERE srn <= 20
              |),
              |rr AS (
              |  SELECT s.q_id, s.vec_id,
              |         ${d2Sql("qe.embedding", "ce.embedding")} AS l2
              |  FROM short s
              |  JOIN e qe ON qe.vec_id = s.q_id
              |  JOIN e ce ON ce.vec_id = s.vec_id
              |),
              |ranked AS (
              |  SELECT q_id, vec_id, l2,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY l2 ASC, vec_id ASC) AS rn
              |  FROM rr
              |)
              |SELECT q_id, rn, vec_id, round(l2, 4) AS l2
              |FROM ranked WHERE rn <= 5
              |ORDER BY ALL NULLS FIRST""".stripMargin)

  val all: Seq[Q] = Seq(
    Q(
      "d6_cluster_quality",
      // CLUSTER-QUALITY REPORT (silhouette-lite) — how separable is the
      // IVF partitioning? Per vector, the cosine MARGIN between its own
      // centroid and the best FOREIGN centroid; per cluster, size, the
      // weakest member's margin, and the mean margin. Margins live
      // entirely in the quantized integer domain of the assignment
      // argmax (round((sim+1)·5e14) — the d6_ivf_assign discipline), so
      // sums are exact and each reported value is one rounded division.
      // A thin margin flags clusters whose boundary ANN probes will
      // miss. 100 TB shape: one corpus scan against the k-row broadcast
      // codebook, two per-vector aggregates, then a k-row rollup.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |scored AS (
              |  SELECT e.vec_id, cents.cluster,
              |         CAST(round((${cosSql("e.v", "cents.cv")} + 1.0) * 5e14)
              |              AS HUGEINT) AS qsim
              |  FROM e CROSS JOIN cents
              |),
              |own AS (
              |  SELECT vec_id,
              |         max(qsim * 10000 + (9999 - cluster)) AS p
              |  FROM scored GROUP BY vec_id
              |),
              |o AS (
              |  SELECT vec_id, (p - p % 10000) // 10000 AS own_q,
              |         CAST(9999 - (p % 10000) AS INTEGER) AS own_cluster
              |  FROM own
              |),
              |nx AS (
              |  SELECT s.vec_id, max(s.qsim) AS next_q
              |  FROM scored s JOIN o ON s.vec_id = o.vec_id
              |  WHERE s.cluster <> o.own_cluster
              |  GROUP BY s.vec_id
              |)
              |SELECT o.own_cluster AS cluster, CAST(count(*) AS BIGINT) AS n,
              |       round(CAST(min(o.own_q - nx.next_q) AS DOUBLE) / 5e14, 6)
              |         AS min_margin,
              |       round(CAST(sum(o.own_q - nx.next_q) AS DOUBLE)
              |             / (count(*) * 5e14), 6) AS mean_margin
              |FROM o JOIN nx ON o.vec_id = nx.vec_id
              |GROUP BY o.own_cluster
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
          .select(col("cluster"),
            col("centroid").cast("array<float>").as("centroid"))
        // The SQL side packs its argmax tiebreak as qsim*10000 + (9999 -
        // cluster), which silently decodes the wrong winner if a cluster
        // id ever reaches 10000; the DataFrame struct-max has no such
        // bound, so the engines would diverge rather than fail loudly.
        // Fail loudly here instead: the codebook is k-row (fixture k=8),
        // so this collect is a bounded metadata check, not a data scan.
        require(cents.agg(max(col("cluster"))).head.getInt(0) < 10000,
          "d6_cluster_quality packed tiebreak assumes cluster ids < 10000")
        val scored = t.embeddings.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cluster"),
            round((Vectors.cosineFast(col("embedding"), col("centroid")) + 1.0) * 5e14)
              .cast("decimal(38,0)").as("qsim"))
        val own = scored
          .groupBy(col("vec_id"))
          .agg(max(struct(col("qsim"), (lit(9999) - col("cluster")).as("negc")))
            .as("w"))
          .select(col("vec_id").as("o_vec"), col("w.qsim").as("own_q"),
            (lit(9999) - col("w.negc")).cast("int").as("own_cluster"))
        val nx = scored.join(own, col("vec_id") === col("o_vec"))
          .filter(col("cluster") =!= col("own_cluster"))
          .groupBy(col("vec_id").as("n_vec"))
          .agg(max(col("qsim")).as("next_q"))
        ordered(
          own.join(nx, col("o_vec") === col("n_vec"))
            .select(col("own_cluster"), (col("own_q") - col("next_q")).as("m"))
            .groupBy(col("own_cluster").as("cluster"))
            .agg(count(lit(1)).as("n"),
              round(min(col("m")).cast("double") / lit(5e14), 6).as("min_margin"),
              round(sum(col("m")).cast("double") /
                (count(lit(1)) * lit(5e14)), 6).as("mean_margin")))
      }
    ),
    Q(
      "d6_cosine_topk",
      // top-10 nearest candidates (vec_id >= 5) per query vector
      // (vec_id < 5), ranked by rounded cosine then candidate id
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
             |scored AS (
             |  SELECT q_id, c_id,
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
             |  FROM q CROSS JOIN c
             |),
             |ranked AS (
             |  SELECT q_id, c_id, cos,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY cos DESC, c_id ASC) AS rn
             |  FROM scored
             |)
             |SELECT q_id, rn, c_id, cos FROM ranked WHERE rn <= 10
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val scored = c.crossJoin(broadcast(q))
          .select(col("q_id"), col("c_id"),
            r4(Vectors.cosineFast(col("qe"), col("ce"))).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("c_id").asc)
        ordered(
          scored.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 10)
            .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
        )
      }
    ),
    Q(
      "d6_hard_negatives",
      // HARD-NEGATIVE MINING for contrastive training — for each anchor
      // vector, the top-3 most-similar candidates with a DIFFERENT label:
      // the pairs an embedding model most needs to push apart. Ranking
      // happens on the ROUNDED cosine (then candidate id) so tie order is
      // engine-independent — the d6_cosine_topk discipline with a label
      // guard. This brute-force pass is the mining ORACLE; at 100 TB the
      // identical label-filtered rerank runs over an IVF/PQ shortlist
      // (d6_ivfpq_search) instead of the full candidate side, and the
      // anchor set stays a broadcast-sized sample per mining round.
      Some("""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
             |           FROM embeddings WHERE vec_id % 50 = 0),
             |c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS ce
             |      FROM embeddings),
             |scored AS (
             |  SELECT q_id, q_label, c_id, c_label,
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
             |  FROM q CROSS JOIN c
             |  WHERE c_label <> q_label
             |),
             |ranked AS (
             |  SELECT q_id, q_label, c_id, c_label, cos,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY cos DESC, c_id ASC) AS rn
             |  FROM scored
             |)
             |SELECT q_id, q_label, rn, c_id AS neg_id, c_label AS neg_label, cos
             |FROM ranked WHERE rn <= 3
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val q = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("embedding").as("ce"))
        val scored = c.crossJoin(broadcast(q)) // anchor sample broadcasts
          .filter(col("c_label") =!= col("q_label"))
          .select(col("q_id"), col("q_label"), col("c_id"), col("c_label"),
            r4(Vectors.cosineFast(col("qe"), col("ce"))).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("c_id").asc)
        ordered(
          scored.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 3)
            .select(col("q_id"), col("q_label"), col("rn"),
              col("c_id").as("neg_id"), col("c_label").as("neg_label"),
              col("cos")))
      }
    ),
    Q(
      "d6_quantize_int8",
      // per-vector symmetric int8 quantization — the 100 TB storage/IO
      // codec for embeddings (4x smaller scans, integer candidate math).
      // floor(x+0.5) not round(): IEEE-identical in both engines.
      // Output is posexploded to scalar (vec_id, dim, scale, qval) rows —
      // the a10_centroid shape — so the compare harness can canonicalize
      // it (array-typed columns are unsortable in its pandas path).
      Some("""WITH dv AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
             |  FROM embeddings
             |),
             |mx AS (
             |  SELECT vec_id, v, list_max([abs(x) FOR x IN v]) AS m FROM dv
             |),
             |qz AS (
             |  SELECT vec_id, round(m / 127.0, 4) AS scale,
             |         [CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
             |               ELSE CAST(floor(x * 127.0 / m + 0.5) AS BIGINT) END
             |          FOR x IN v] AS q
             |  FROM mx
             |)
             |SELECT vec_id, generate_subscripts(q, 1) - 1 AS dim, scale,
             |       unnest(q) AS qval
             |FROM qz
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // widen: the per-vector quantize HOFs are the dominant per-row
        // cost and must not serialize on an unsplittable toy row group
        // (guide §2.5); per-row results are partition-independent
        ordered(
          graft.sources.Scans.widen(t.embeddings, col("vec_id"))
            .select(col("vec_id"),
              r4(Vectors.quantScale(col("embedding"))).as("scale"),
              posexplode(Vectors.quantizeInt8(col("embedding"))).as(Seq("dim", "qval")))
            .select(col("vec_id"), col("dim"), col("scale"), col("qval"))
        )
      }
    ),
    Q(
      "d6_sq_rerank",
      // two-stage ANN: stage 1 shortlists top-40 per query by INTEGER dot
      // product of int8-quantized L2-normalized vectors (at scale the
      // candidate flow carries only ids + int8 — float vectors never ride
      // the shuffle); stage 2 re-fetches exact vectors BY ID and reranks
      // by exact cosine. Every stage is deterministic, so the whole
      // pipeline exact-hash-matches the oracle.
      Some("""WITH dv AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
             |  FROM embeddings
             |),
             |un AS (
             |  SELECT vec_id, v,
             |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |             [x * x FOR x IN v]), (acc, x) -> acc + x)) AS nrm
             |  FROM dv
             |),
             |nv AS (
             |  SELECT vec_id,
             |         [CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END FOR x IN v] AS u
             |  FROM un
             |),
             |qz AS (
             |  SELECT vec_id, u, list_max([abs(x) FOR x IN u]) AS m FROM nv
             |),
             |quant AS (
             |  SELECT vec_id,
             |         [CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
             |               ELSE CAST(floor(x * 127.0 / m + 0.5) AS BIGINT) END
             |          FOR x IN u] AS qv
             |  FROM qz
             |),
             |cand AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           [q.qv[i] * c.qv[i] FOR i IN range(1, len(q.qv) + 1)]),
             |           (acc, x) -> acc + x) AS qdot
             |  FROM quant q JOIN quant c ON q.vec_id < 5 AND c.vec_id >= 5
             |),
             |shortlist AS (
             |  SELECT q_id, c_id,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY qdot DESC, c_id ASC) AS rn1
             |  FROM cand
             |),
             |rerank AS (
             |  SELECT s.q_id, s.c_id,
             |    round(
             |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        [qe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE
             |         FOR i IN range(1, len(qe.embedding) + 1)]),
             |        (acc, x) -> acc + x)
             |      / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [qe.embedding[i]::DOUBLE * qe.embedding[i]::DOUBLE
             |            FOR i IN range(1, len(qe.embedding) + 1)]),
             |           (acc, x) -> acc + x))
             |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [ce.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE
             |            FOR i IN range(1, len(ce.embedding) + 1)]),
             |           (acc, x) -> acc + x))), 4) AS cos
             |  FROM shortlist s
             |  JOIN embeddings qe ON qe.vec_id = s.q_id
             |  JOIN embeddings ce ON ce.vec_id = s.c_id
             |  WHERE s.rn1 <= 40
             |)
             |SELECT q_id, rn, c_id, cos FROM (
             |  SELECT q_id, c_id, cos,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY cos DESC, c_id ASC) AS rn
             |  FROM rerank)
             |WHERE rn <= 10
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val qz = e.select(col("vec_id"),
          Vectors.quantizeInt8(Vectors.normalized(col("embedding"))).as("qv"))
        val q = qz.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qv").as("qq"))
        val c = qz.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("c_id"), col("qv").as("cq"))
        val w1 = Window.partitionBy(col("q_id"))
          .orderBy(col("qdot").desc, col("c_id").asc)
        val shortlist = c.crossJoin(broadcast(q))
          .select(col("q_id"), col("c_id"),
            Vectors.dotInt(col("qq"), col("cq")).as("qdot"))
          .withColumn("rn1", row_number().over(w1))
          .filter(col("rn1") <= 40)
          .select(col("q_id"), col("c_id"))
        // rerank re-fetches exact vectors BY ID — the production shape:
        // a point-lookup join against the vector store, never a second
        // full-corpus scan through the candidate shuffle
        val qe = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val ce = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val w2 = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("c_id").asc)
        ordered(
          shortlist.join(ce, "c_id").join(broadcast(qe), "q_id")
            .select(col("q_id"), col("c_id"),
              r4(Vectors.cosineFast(col("qe"), col("ce"))).as("cos"))
            .withColumn("rn", row_number().over(w2))
            .filter(col("rn") <= 10)
            .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
        )
      }
    ),
    Q(
      "d6_lsh_ann",
      // multi-table sign-LSH ANN, exact-hash-checked: the md5-derived
      // plane family (Vectors.planeCoef) is reproducible in ANSI SQL, so
      // bucket assignment AND the candidate → rerank → top-k pipeline
      // hash-match DuckDB; FunctionsSpec additionally pins recall vs the
      // brute-force baseline
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |k AS (
              |  SELECT vec_id, v, unnest(${lshKeysSql("v", 4, 8)}) AS b FROM e
              |),
              |q AS (SELECT vec_id AS q_id, v AS qv, b FROM k WHERE vec_id < 20),
              |c AS (SELECT vec_id AS c_id, v AS cv, b FROM k WHERE vec_id >= 20),
              |cand AS (
              |  SELECT DISTINCT q_id, c_id, round(${cosSql("qv", "cv")}, 4) AS cos
              |  FROM c JOIN q USING (b)
              |),
              |ranked AS (
              |  SELECT q_id, c_id, cos,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY cos DESC, c_id ASC) AS rn
              |  FROM cand
              |)
              |SELECT q_id, rn, c_id, cos FROM ranked WHERE rn <= 5
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val withKeys = e.select(col("vec_id"), col("embedding"),
          explode(Vectors.lshTables(col("embedding"), planesPerTable = 4,
            nTables = 8)).as("bucket"))
        val q = withKeys.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
        val c = withKeys.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("bucket"))
        // same (q, c) pair can collide in several tables: score first
        // (cosine is deterministic, so duplicates are identical rows),
        // then distinct over three scalars — never shuffle the vectors
        val cand = c.join(broadcast(q), "bucket")
          .select(col("q_id"), col("c_id"),
            r4(Vectors.cosineFast(col("qe"), col("ce"))).as("cos"))
          .distinct()
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("c_id").asc)
        ordered(
          cand.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(col("q_id"), col("rn"), col("c_id"), col("cos"))
        )
      }
    ),
    Q(
      "d5_embedding_neardup_lsh",
      // the PRODUCTION embedding near-dup operator: LSH candidate
      // generation (ids + bucket keys ride the shuffle, never vectors) →
      // exact cosine rerank by id re-fetch → threshold. Same (i, j, cos)
      // schema as the exact d5_embedding_neardup fence, but no cartesian
      // anywhere in the plan (ScaleShapeSpec asserts it) — the shape you
      // actually run on a 100 TB corpus. Exact-hash-checked end to end.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |k AS (
              |  SELECT vec_id, unnest(${lshKeysSql("v", 4, 8)}) AS b FROM e
              |),
              |cand AS (
              |  SELECT DISTINCT a.vec_id AS i, c.vec_id AS j
              |  FROM k a JOIN k c ON a.b = c.b AND a.vec_id < c.vec_id
              |),
              |scored AS (
              |  SELECT i, j, ${cosSql("ea.v", "eb.v")} AS c
              |  FROM cand
              |  JOIN e ea ON ea.vec_id = cand.i
              |  JOIN e eb ON eb.vec_id = cand.j
              |)
              |SELECT i, j, round(c, 4) AS cos FROM scored WHERE c >= 0.45
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        // keys computed once, both join sides read the materialized copy
        val keys = e.select(col("vec_id"),
          explode(Vectors.lshTables(col("embedding"), planesPerTable = 4,
            nTables = 8)).as("b"))
          .cut(Shared)
        val cand = keys.select(col("vec_id").as("i"), col("b"))
          .join(keys.select(col("vec_id").as("j"), col("b")), "b")
          .filter(col("i") < col("j"))
          .select(col("i"), col("j"))
          .distinct()
        // rerank re-fetches vectors BY ID — two equi-joins, no cartesian
        val ea = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
        val eb = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
        ordered(
          cand.join(ea, "i").join(eb, "j")
            .select(col("i"), col("j"),
              Vectors.cosineFast(col("ea"), col("eb")).as("c"))
            .filter(col("c") >= 0.45)
            .select(col("i"), col("j"), r4(col("c")).as("cos"))
        )
      }
    ),
    Q(
      "a10_centroid",
      // custom typed Aggregator (partial/final over fixed-width buffers),
      // posexploded to rows so the oracle can hash-check per dimension
      Some("""WITH e AS (
             |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             |         unnest(embedding) AS v
             |  FROM embeddings
             |)
             |SELECT label, dim, round(avg(v::DOUBLE), 4) AS centroid
             |FROM e GROUP BY label, dim
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val centroid = udaf(Centroid)
        ordered(
          t.embeddings
            .groupBy(col("label"))
            .agg(centroid(col("embedding")).as("c"))
            .select(col("label"), posexplode(col("c")).as(Seq("dim", "v")))
            .select(col("label"), col("dim"), r4(col("v")).as("centroid"))
        )
      }
    ),
    Q(
      "d5_embedding_neardup",
      // embedding-cosine near-dup pairs (mandate dedup variant #5): exact
      // all-pairs at test scale with the native cosine expression. Cosine
      // admits no exact pre-filter (norm-invariant), so the honest exact
      // path is quadratic; at 100 TB you run d6_lsh_ann's multi-table
      // candidates first and accept its recall, or shard the cross
      // product. The oracle is the same exact computation in DuckDB.
      Some("""SELECT a.vec_id AS i, b.vec_id AS j,
             |  round(
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      [a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE FOR k IN range(1, len(a.embedding) + 1)]),
             |      (acc, x) -> acc + x)
             |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [a.embedding[k]::DOUBLE * a.embedding[k]::DOUBLE FOR k IN range(1, len(a.embedding) + 1)]),
             |         (acc, x) -> acc + x))
             |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [b.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE FOR k IN range(1, len(b.embedding) + 1)]),
             |         (acc, x) -> acc + x))), 4) AS cos
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      [a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE FOR k IN range(1, len(a.embedding) + 1)]),
             |      (acc, x) -> acc + x)
             |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [a.embedding[k]::DOUBLE * a.embedding[k]::DOUBLE FOR k IN range(1, len(a.embedding) + 1)]),
             |         (acc, x) -> acc + x))
             |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [b.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE FOR k IN range(1, len(b.embedding) + 1)]),
             |         (acc, x) -> acc + x))) >= 0.45
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // widen the STREAM side of the nested-loop demo: the n²/2 cosine
        // pass must not serialize on an unsplittable toy row group
        // (guide §2.5; the broadcast side stays as-is)
        val a = graft.sources.Scans.widen(t.embeddings, col("vec_id"))
          .select(col("vec_id").as("i"), col("embedding").as("ea"))
        val b = t.embeddings.select(col("vec_id").as("j"), col("embedding").as("eb"))
        ordered(
          a.join(b, col("i") < col("j"))
            .select(col("i"), col("j"),
              Vectors.cosineFast(col("ea"), col("eb")).as("c"))
            .filter(col("c") >= 0.45)
            .select(col("i"), col("j"), r4(col("c")).as("cos"))
        )
      }
    ),
    Q(
      "d6_pca_power",
      // embedding-space diagnostic: dominant principal direction by
      // distributed power iteration (one scan per round, driver holds
      // only the 64-dim vector). rows-only — iterative float linear
      // algebra has no SQL oracle; FunctionsSpec pins convergence and
      // energy dominance instead.
      None,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val v = graft.functions.Pca.dominantDirection(
          t.embeddings, "embedding", dim = 64, iters = 6)
        import spark.implicits._
        ordered(
          v.zipWithIndex.map { case (c, i) => (i, c) }
            .toSeq.toDF("dim", "component")
        )
      }
    ),
    Q(
      "d6_pca_golden",
      // The hash-checkable face of the power-iteration gate (the
      // d7_compression_golden recipe applied to d6_pca_power): a LITERAL
      // 4×3 integer matrix, v0 = (1,1,1), three UNNORMALIZED rounds of
      // v ← mean(x·(x·v)) through the REAL distributed machinery
      // (Centroid aggregate + codegen dot, Pca.powerRounds). Every
      // product and partial sum is a dyadic rational (integer inputs,
      // mean ÷4 = a binary shift) far inside float32 range, so all
      // arithmetic — including the per-round float casts — is EXACT and
      // order-independent across partitions; the oracle unrolls the same
      // three rounds in plain SQL and must agree bit-for-bit. The final
      // unit direction divides by sqrt(va²+vb²+vc²) with the IDENTICAL
      // expression tree in both engines (each op correctly rounded →
      // identical doubles). Corpus-independent by design; the
      // corpus-scale leg stays d6_pca_power (rows-only, spec-backed:
      // normalized float sums are order-sensitive by nature).
      Some("""WITH m(vec_id, a, b, c) AS (VALUES
             |  (1, 1.0, 2.0, 0.0), (2, 2.0, 1.0, 1.0),
             |  (3, 0.0, 1.0, 3.0), (4, 3.0, 0.0, 1.0)),
             |r1 AS (SELECT avg(a*(a+b+c)) AS va, avg(b*(a+b+c)) AS vb,
             |              avg(c*(a+b+c)) AS vc FROM m),
             |r2 AS (SELECT avg(a*(a*r1.va+b*r1.vb+c*r1.vc)) AS va,
             |              avg(b*(a*r1.va+b*r1.vb+c*r1.vc)) AS vb,
             |              avg(c*(a*r1.va+b*r1.vb+c*r1.vc)) AS vc
             |       FROM m CROSS JOIN r1),
             |r3 AS (SELECT avg(a*(a*r2.va+b*r2.vb+c*r2.vc)) AS va,
             |              avg(b*(a*r2.va+b*r2.vb+c*r2.vc)) AS vb,
             |              avg(c*(a*r2.va+b*r2.vb+c*r2.vc)) AS vc
             |       FROM m CROSS JOIN r2),
             |n AS (SELECT sqrt(va*va+vb*vb+vc*vc) AS nrm FROM r3),
             |u AS (SELECT 0 AS dim, va AS raw FROM r3
             |      UNION ALL SELECT 1, vb FROM r3
             |      UNION ALL SELECT 2, vc FROM r3)
             |SELECT u.dim, round(u.raw, 4) AS component,
             |       round(u.raw / n.nrm, 4) AS unit
             |FROM u CROSS JOIN n
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        import spark.implicits._
        val fixture = Seq(
          (1L, Array(1f, 2f, 0f)), (2L, Array(2f, 1f, 1f)),
          (3L, Array(0f, 1f, 3f)), (4L, Array(3f, 0f, 1f)))
          .toDF("vec_id", "embedding")
          // spread across partitions: exactness must not depend on a
          // single-partition accident
          .repartition(4, col("vec_id"))
        val v = graft.functions.Pca.powerRounds(
          fixture, "embedding", dim = 3, iters = 3,
          v0 = Array(1.0, 1.0, 1.0))
        // identical IEEE tree to the oracle's sqrt(va*va+vb*vb+vc*vc)
        val nrm = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
        ordered(
          v.zipWithIndex
            .map { case (c, i) => (i, c, c / nrm) }.toSeq
            .toDF("dim", "raw", "u")
            .select(col("dim"), round(col("raw"), 4).as("component"),
              round(col("u"), 4).as("unit")))
      }
    ),
    Q(
      "d6_pairwise_label_sim",
      // mean intra- vs inter-label cosine over a deterministic sample —
      // the "is my embedding space any good" diagnostic
      Some("""WITH s AS (SELECT vec_id, label, embedding AS e FROM embeddings WHERE vec_id % 5 = 0),
             |p AS (
             |  SELECT a.label AS la, b.label AS lb,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      [a.e[i]::DOUBLE * b.e[i]::DOUBLE FOR i IN range(1, len(a.e) + 1)]),
             |      (acc, x) -> acc + x)
             |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [a.e[i]::DOUBLE * a.e[i]::DOUBLE FOR i IN range(1, len(a.e) + 1)]),
             |         (acc, x) -> acc + x))
             |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |         [b.e[i]::DOUBLE * b.e[i]::DOUBLE FOR i IN range(1, len(b.e) + 1)]),
             |         (acc, x) -> acc + x))) AS cos
             |  FROM s a JOIN s b ON a.vec_id < b.vec_id
             |)
             |SELECT CASE WHEN la = lb THEN 'intra' ELSE 'inter' END AS kind,
             |       count(*) AS n_pairs, round(avg(cos), 4) AS mean_cos
             |FROM p GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // materialized once — the sample feeds both sides of the pair join
        val s = t.embeddings.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("label"), col("embedding"))
          .cut(Shared)
        val a = s.select(col("vec_id").as("ida"), col("label").as("la"), col("embedding").as("ea"))
        val b = s.select(col("vec_id").as("idb"), col("label").as("lb"), col("embedding").as("eb"))
        ordered(
          a.join(b, col("ida") < col("idb"))
            .select(
              when(col("la") === col("lb"), lit("intra")).otherwise(lit("inter")).as("kind"),
              // native codegen'd cosine — bit-identical to the HOF fold
              // (VectorExprSpec), so oracle parity is preserved while the
              // 2M-pair cartesian stays in whole-stage codegen
              Vectors.cosineFast(col("ea"), col("eb")).as("cos"))
            .groupBy(col("kind"))
            .agg(count(lit(1)).as("n_pairs"), r4(avg(col("cos"))).as("mean_cos"))
        )
      }
    )
    ,
    Q(
      "d6_ivf_assign",
      // IVF nearest-centroid assignment over the FROZEN committed
      // centroid fixture (fixtures/ivf_centroids.parquet, FixtureGen):
      // with fixed centroids the packed-decimal argmax (Ivf.packScore) is
      // exact integer math both engines reproduce — the assignment path
      // of the IVF index is exact-hash-checked; only Lloyd training
      // (float sums over shuffle order) stays spec-checked.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |scored AS (
              |  SELECT e.vec_id, cents.cluster, ${cosSql("e.v", "cents.cv")} AS sim
              |  FROM e CROSS JOIN cents
              |),
              |packed AS (
              |  SELECT vec_id,
              |         max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT) * 10000
              |             + (9999 - cluster)) AS p
              |  FROM scored GROUP BY vec_id
              |)
              |SELECT vec_id, CAST(9999 - (p % 10000) AS INTEGER) AS cluster
              |FROM packed
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        ordered(graft.functions.Ivf.assign(t.embeddings, cents))
      }
    ),
    Q(
      "d6_ivf_search",
      // IVF probe search over the frozen centroids: index assignment
      // (packed argmax), nProbe=2 probe selection, exact cosine rerank —
      // every stage deterministic over the fixture, so the full search
      // path exact-hash-matches DuckDB. Live Lloyd training is hash-checked
      // separately by d6_kmeans_converge; live-trained recall stays spec'd
      // in FunctionsSpec (d6_ivf_ann retired round 9).
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
              |ascore AS (
              |  SELECT corpus.vec_id, cents.cluster,
              |         ${cosSql("corpus.v", "cents.cv")} AS sim
              |  FROM corpus CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |pscore AS (
              |  SELECT q.q_id, q.qv, cents.cluster,
              |         ${cosSql("q.qv", "cents.cv")} AS sim
              |  FROM q CROSS JOIN cents
              |),
              |probes AS (
              |  SELECT q_id, qv, cluster FROM (
              |    SELECT q_id, qv, cluster,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY sim DESC, cluster ASC) AS pr
              |    FROM pscore)
              |  WHERE pr <= 2
              |),
              |cand AS (
              |  SELECT p.q_id, c.vec_id, ${cosSql("p.qv", "c.v")} AS cos
              |  FROM probes p
              |  JOIN asg a USING (cluster)
              |  JOIN corpus c ON c.vec_id = a.vec_id
              |),
              |ranked AS (
              |  SELECT q_id, vec_id, cos,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY cos DESC, vec_id ASC) AS rn
              |  FROM cand
              |)
              |SELECT q_id, rn, vec_id, round(cos, 4) AS cos
              |FROM ranked WHERE rn <= 5
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        val ivf = graft.functions.Ivf.index(e.filter(col("vec_id") >= 20), cents)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        ordered(
          graft.functions.Ivf.search(ivf, cents, queries, nProbe = 2, topK = 5)
            .select(col("q_id"), col("rn"), col("vec_id"), r4(col("cos")).as("cos"))
        )
      }
    ),
    Q(
      "d6_ann_filtered",
      // FILTERED VECTOR SEARCH — the vector-db feature every RAG stack
      // leans on ("nearest neighbors WHERE label = X"): the IVF probe
      // path (frozen centroids, packed-decimal argmax assignment,
      // nProbe=2) with the metadata predicate applied to the CANDIDATE
      // set (post-filter — the standard IVF strategy; pre-filtering
      // would invalidate the cluster geometry). Each query targets label
      // q_id % 10; outputs the filtered top-3 plus n_cand, the filtered
      // candidate volume — the column that exposes the selectivity/recall
      // tradeoff a production system monitors (sparse filters starve the
      // probe set). Every stage is the hash-proven fixture machinery, so
      // the whole filtered path exact-hash-matches. 100 TB shape: the
      // label filter rides the candidate join (cluster-bucketed), never
      // a corpus scan; topping up sparse filters = raising nProbe, the
      // d6_recall_curve dial.
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 20),
              |q AS (SELECT vec_id AS q_id, v AS qv,
              |             CAST(vec_id % 10 AS INTEGER) AS target
              |      FROM e WHERE vec_id < 20),
              |ascore AS (
              |  SELECT corpus.vec_id, cents.cluster,
              |         ${cosSql("corpus.v", "cents.cv")} AS sim
              |  FROM corpus CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |pscore AS (
              |  SELECT q.q_id, q.qv, q.target, cents.cluster,
              |         ${cosSql("q.qv", "cents.cv")} AS sim
              |  FROM q CROSS JOIN cents
              |),
              |probes AS (
              |  SELECT q_id, qv, target, cluster FROM (
              |    SELECT q_id, qv, target, cluster,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY sim DESC, cluster ASC) AS pr
              |    FROM pscore)
              |  WHERE pr <= 2
              |),
              |cand AS (
              |  SELECT p.q_id, p.target, c.vec_id, c.label,
              |         ${cosSql("p.qv", "c.v")} AS cos
              |  FROM probes p
              |  JOIN asg a USING (cluster)
              |  JOIN corpus c ON c.vec_id = a.vec_id
              |  WHERE c.label = p.target
              |),
              |ranked AS (
              |  SELECT q_id, target, vec_id, cos,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY cos DESC, vec_id ASC) AS rn,
              |         count(*) OVER (PARTITION BY q_id) AS n_cand
              |  FROM cand
              |)
              |SELECT q_id, target, rn, vec_id, round(cos, 4) AS cos,
              |       CAST(n_cand AS BIGINT) AS n_cand
              |FROM ranked WHERE rn <= 3
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        val ivf = graft.functions.Ivf.index(e.filter(col("vec_id") >= 20), cents)
        val lab = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("label"))
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val targets = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"),
            (col("vec_id") % 10).cast("int").as("target"))
        val cand = ivf
          .join(broadcast(graft.functions.Ivf.probes(queries, cents, nProbe = 2)),
            "cluster")
          .join(lab, "vec_id")
          .join(broadcast(targets), "q_id")
          .filter(col("label") === col("target"))
          .select(col("q_id"), col("target"), col("vec_id"),
            graft.functions.Vectors.cosineFast(col("qe"), col("embedding"))
              .as("cos"))
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val wCnt = Window.partitionBy(col("q_id"))
        ordered(
          cand
            .withColumn("rn", row_number().over(wTop))
            .withColumn("n_cand", count(lit(1)).over(wCnt))
            .filter(col("rn") <= 3)
            .select(col("q_id"), col("target"), col("rn"), col("vec_id"),
              r4(col("cos")).as("cos"), col("n_cand")))
      }
    ),
    Q(
      "d6_recall_curve",
      // IVF COST/RECALL CURVE, oracle-checked — the dial every ANN
      // deployment tunes: for nProbe in {1, 2, 4, 8}, the candidate
      // volume the probes admit (the cost axis) and recall@5 against the
      // brute-force exact top-5 (the quality axis). Every stage is the
      // already-hash-proven fixture machinery (packed-decimal argmax
      // assignment, fold-exact cosine, raw-double rank ties broken by
      // vec_id), and recall is exact-integer hits over an exact-integer
      // denominator with ONE rounded division — so the whole curve
      // hash-matches and the recall claim no longer rests on a spec
      // alone. 100 TB shape: assignment is the IVF index build (corpus
      // bucketed by cluster); per-probe candidates ride the probed
      // lists, never the corpus; the brute leg is the fenced 20-query
      // oracle baseline every pruned path is judged against.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
              |ascore AS (
              |  SELECT corpus.vec_id, cents.cluster,
              |         ${cosSql("corpus.v", "cents.cv")} AS sim
              |  FROM corpus CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |pscore AS (
              |  SELECT q.q_id, q.qv, cents.cluster,
              |         ${cosSql("q.qv", "cents.cv")} AS sim
              |  FROM q CROSS JOIN cents
              |),
              |prk AS (
              |  SELECT q_id, qv, cluster,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY sim DESC, cluster ASC) AS pr
              |  FROM pscore
              |),
              |np AS (SELECT CAST(npb AS INTEGER) AS n_probe
              |       FROM (SELECT unnest([1, 2, 4, 8]) AS npb)),
              |probes AS (
              |  SELECT np.n_probe, prk.q_id, prk.qv, prk.cluster
              |  FROM np JOIN prk ON prk.pr <= np.n_probe
              |),
              |cand AS (
              |  SELECT p.n_probe, p.q_id, c.vec_id, ${cosSql("p.qv", "c.v")} AS cos
              |  FROM probes p
              |  JOIN asg a USING (cluster)
              |  JOIN corpus c ON c.vec_id = a.vec_id
              |),
              |top5 AS (
              |  SELECT n_probe, q_id, vec_id FROM (
              |    SELECT n_probe, q_id, vec_id,
              |           row_number() OVER (PARTITION BY n_probe, q_id
              |                              ORDER BY cos DESC, vec_id ASC) AS rn
              |    FROM cand)
              |  WHERE rn <= 5
              |),
              |bscore AS (
              |  SELECT q.q_id, c.vec_id, ${cosSql("q.qv", "c.v")} AS cos
              |  FROM q CROSS JOIN corpus c
              |),
              |btop AS (
              |  SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY cos DESC, vec_id ASC) AS rn
              |    FROM bscore)
              |  WHERE rn <= 5
              |),
              |m AS (
              |  SELECT n_probe, CAST(count(*) AS BIGINT) AS hits
              |  FROM top5 JOIN btop USING (q_id, vec_id) GROUP BY 1
              |),
              |cc AS (
              |  SELECT n_probe, CAST(count(*) AS BIGINT) AS n_candidates
              |  FROM cand GROUP BY 1
              |),
              |nq AS (SELECT count(*) AS nq FROM q)
              |SELECT cc.n_probe, cc.n_candidates,
              |       round(m.hits * 1.0 / (nq.nq * 5), 4) AS recall5
              |FROM cc JOIN m USING (n_probe) CROSS JOIN nq
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
        // the index is consumed by all four probe settings: one build
        val ivf = graft.functions.Ivf.index(corpus, cents).cut(Shared)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val btop = corpus.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(queries))
          .select(col("q_id"), col("vec_id"),
            Vectors.cosineFast(col("qe"), col("embedding")).as("cos"))
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
        val nqueries = 20L
        val legs = Seq(1, 2, 4, 8).map { np =>
          val cand = ivf.join(
              broadcast(graft.functions.Ivf.probes(queries, cents, np)), "cluster")
            .select(col("q_id"), col("vec_id"),
              Vectors.cosineFast(col("qe"), col("embedding")).as("cos"))
          val top5 = cand.withColumn("rn", row_number().over(wTop))
            .filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
          val hits = top5.join(btop, Seq("q_id", "vec_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
          cand.agg(count(lit(1)).as("n_candidates"))
            .crossJoin(hits) // two 1-row aggregates
            .select(lit(np).as("n_probe"), col("n_candidates"),
              round(col("hits") * lit(1.0) / lit(nqueries * 5), 4).as("recall5"))
        }
        ordered(legs.reduce(_.unionByName(_)))
      }
    ),
    Q(
      "d6_diverse_topk",
      // Cluster-diversified top-k — the retrieval-diversification shape
      // (the cheap, scale-sane alternative to iterative MMR): candidates
      // first rank WITHIN their IVF cluster and only the best 2 per
      // (query, cluster) survive, then the global top-10 reranks the
      // survivors — so no single dense neighborhood can monopolize a
      // result page. Everything is the already-proven exact machinery
      // (fixture centroids, packed-decimal argmax assignment, fold-exact
      // cosine), so the full path hash-matches. 100 TB shape: assignment
      // is the IVF index build (corpus bucketed by cluster on disk); the
      // per-cluster rank is a window over each cluster's candidates; the
      // final top-10 is a per-query TakeOrdered over <= 2*k survivors.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
              |ascore AS (
              |  SELECT corpus.vec_id, cents.cluster,
              |         ${cosSql("corpus.v", "cents.cv")} AS sim
              |  FROM corpus CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |scored AS (
              |  SELECT q.q_id, c.vec_id, a.cluster,
              |         round(${cosSql("q.qv", "c.v")}, 4) AS cos
              |  FROM q CROSS JOIN corpus c JOIN asg a ON a.vec_id = c.vec_id
              |),
              |incluster AS (
              |  SELECT q_id, vec_id, cluster, cos FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id, cluster
              |                                 ORDER BY cos DESC, vec_id ASC) AS cr
              |    FROM scored) WHERE cr <= 2
              |)
              |SELECT q_id, rn, vec_id, cluster, cos FROM (
              |  SELECT q_id, vec_id, cluster, cos,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY cos DESC, vec_id ASC) AS rn
              |  FROM incluster) WHERE rn <= 10
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 5)
        val asg = graft.functions.Ivf.assign(corpus, cents)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val scored = corpus.join(asg, "vec_id")
          .crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"), col("cluster"),
            r4(Vectors.cosineFast(col("qe"), col("embedding"))).as("cos"))
        val wc = Window.partitionBy(col("q_id"), col("cluster"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val wg = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        ordered(
          scored.withColumn("cr", row_number().over(wc)).filter(col("cr") <= 2)
            .withColumn("rn", row_number().over(wg)).filter(col("rn") <= 10)
            .select(col("q_id"), col("rn"), col("vec_id"), col("cluster"), col("cos")))
      }
    ),
    // d6_ivf_ann (live-trained IVF search, rows-only) was RETIRED in round 9:
    // every piece it exercised is hash-checked elsewhere — live multi-round
    // Lloyd by d6_kmeans_converge, IVF assignment/search over the frozen
    // codebook by d6_ivf_assign/d6_ivf_search, and the recall-vs-nProbe dial
    // by d6_recall_curve; FunctionsSpec still measures live-trained recall
    // against brute force. Ivf.train's Centroid aggregator sums raw doubles
    // (order-dependent across partitionings by design — the fast path), so
    // its output is not cross-engine hashable without changing the float
    // discipline every consumer shares; the redundant-and-unchecked query
    // carried no evidence its siblings don't.
    Q(
      "d6_pq_assign",
      // PQ encode over the FROZEN codebook (fixtures/pq_centroids.parquet,
      // FixtureGen): nearest sub-centroid per (vector, subspace) via the
      // packed-decimal argmin — exact integer math with a fixed codebook,
      // so the whole 32×-compression encode path is hash-checked. Only
      // codebook TRAINING (float sums over shuffle order) stays spec-land.
      // NB the packed value is negative (−d2·1e13 scaled); Spark's pmod is
      // a positive mod, so the DuckDB twin re-centers its C-style % below.
      Some(s"""WITH cents AS (
              |  SELECT sub, cluster, centroid
              |  FROM '${Repo.fixture("pq_centroids.parquet")}'
              |),
              |sv AS (
              |  SELECT e.vec_id, s.sub,
              |         e.embedding[s.sub*8+1 : s.sub*8+8] AS subvec
              |  FROM embeddings e
              |  CROSS JOIN (SELECT unnest(range(8)) AS sub) s
              |),
              |scored AS (
              |  SELECT sv.vec_id, sv.sub, c.cluster,
              |         ${d2Sql("sv.subvec", "c.centroid")} AS d2
              |  FROM sv JOIN cents c USING (sub)
              |),
              |packed AS (
              |  SELECT vec_id, sub,
              |         max(CAST(round((0.0 - d2) * 1e13) AS HUGEINT) * 10000
              |             + (9999 - cluster)) AS p
              |  FROM scored GROUP BY vec_id, sub
              |)
              |SELECT vec_id, CAST(sub AS INTEGER) AS sub,
              |       CAST(9999 - (((p % 10000) + 10000) % 10000) AS INTEGER) AS code
              |FROM packed
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("pq_centroids.parquet"))
        ordered(graft.functions.Pq.assign(t.embeddings, cents, m = 8, dim = 64))
      }
    ),
    Q(
      "d6_pq_search",
      // Full PQ/ADC search over the frozen codebook: encode the corpus
      // (8-byte codes), per-query distance table, ADC shortlist of 40 by
      // EXACT decimal sums, exact L2 rerank of only the shortlist, top-5.
      // Every stage is deterministic over the fixture, so the whole
      // memory-bound ANN path hash-matches DuckDB; the float corpus rides
      // only the 40-row rerank join, never the candidate pass.
      Some(s"""WITH cents AS (
              |  SELECT sub, cluster, centroid
              |  FROM '${Repo.fixture("pq_centroids.parquet")}'
              |),
              |e AS (SELECT vec_id, embedding FROM embeddings),
              |subs AS (SELECT unnest(range(8)) AS sub),
              |csv AS (
              |  SELECT e.vec_id, s.sub,
              |         e.embedding[s.sub*8+1 : s.sub*8+8] AS subvec
              |  FROM e CROSS JOIN subs s WHERE e.vec_id >= 20
              |),
              |scored AS (
              |  SELECT csv.vec_id, csv.sub, c.cluster,
              |         ${d2Sql("csv.subvec", "c.centroid")} AS d2
              |  FROM csv JOIN cents c USING (sub)
              |),
              |codes AS (
              |  SELECT vec_id, sub,
              |         CAST(9999 - ((((max(CAST(round((0.0 - d2) * 1e13) AS HUGEINT)
              |                             * 10000 + (9999 - cluster))) % 10000)
              |                       + 10000) % 10000) AS INTEGER) AS code
              |  FROM scored GROUP BY vec_id, sub
              |),
              |qsv AS (
              |  SELECT e.vec_id AS q_id, s.sub,
              |         e.embedding[s.sub*8+1 : s.sub*8+8] AS qsub
              |  FROM e CROSS JOIN subs s WHERE e.vec_id < 20
              |),
              |dtable AS (
              |  SELECT q.q_id, q.sub, c.cluster AS code,
              |         CAST(round(${d2Sql("q.qsub", "c.centroid")}, 9)
              |              AS DECIMAL(28,9)) AS dd
              |  FROM qsv q JOIN cents c USING (sub)
              |),
              |adc AS (
              |  SELECT d.q_id, k.vec_id, sum(d.dd) AS adc
              |  FROM codes k JOIN dtable d ON d.sub = k.sub AND d.code = k.code
              |  GROUP BY d.q_id, k.vec_id
              |),
              |short AS (
              |  SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY adc ASC, vec_id ASC) AS srn
              |    FROM adc) WHERE srn <= 40
              |),
              |rr AS (
              |  SELECT s.q_id, s.vec_id,
              |         ${d2Sql("qe.embedding", "ce.embedding")} AS l2
              |  FROM short s
              |  JOIN e qe ON qe.vec_id = s.q_id
              |  JOIN e ce ON ce.vec_id = s.vec_id
              |),
              |ranked AS (
              |  SELECT q_id, vec_id, l2,
              |         row_number() OVER (PARTITION BY q_id
              |                            ORDER BY l2 ASC, vec_id ASC) AS rn
              |  FROM rr
              |)
              |SELECT q_id, rn, vec_id, round(l2, 4) AS l2
              |FROM ranked WHERE rn <= 5
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("pq_centroids.parquet"))
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
        val codes = graft.functions.Pq.assign(corpus, cents, m = 8, dim = 64)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val short = graft.functions.Pq
          .adcShortlist(queries, cents, codes, m = 8, dim = 64, shortlist = 40)
          .select(col("q_id"), col("vec_id"))
        // exact rerank: floats fetched for the 40-candidate shortlist only
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("l2").asc, col("vec_id").asc)
        ordered(
          short
            .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
            .join(queries, "q_id")
            .select(col("q_id"), col("vec_id"),
              graft.functions.Pq.d2(col("qe"), col("embedding")).as("l2"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(col("q_id"), col("rn"), col("vec_id"), r4(col("l2")).as("l2"))
        )
      }
    ),
    Q(
      "d6_ivfpq_search",
      // IVF-PQ — the COMPOSED billion-scale ANN index (the FAISS IVFPQ
      // shape): IVF probe pruning picks which inverted lists to read,
      // PQ/ADC scores ONLY those lists' 8-byte codes, and the float
      // vectors join for nothing but the final 20-row exact rerank. At
      // 100 TB this is the layout: corpus bucketed by cluster on disk,
      // codes 32x smaller than floats riding the candidate pass, scan
      // cost nProbe/k of the corpus. Every stage reuses a fixture-exact
      // path proven above (d6_ivf_search's assignment/probes +
      // d6_pq_search's codes/ADC), so the whole composite hash-matches.
      ivfpqOracle,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ivfCents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val pqCents = spark.read.parquet(Repo.fixture("pq_centroids.parquet"))
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val asg = graft.functions.Ivf.assign(corpus, ivfCents)
        val cand = graft.functions.Ivf.probes(queries, ivfCents, nProbe = 2)
          .select(col("q_id"), col("cluster"))
          .join(asg, Seq("cluster"))
          .select(col("q_id"), col("vec_id"))
        val codes = graft.functions.Pq.assign(corpus, pqCents, m = 8, dim = 64)
        val short = graft.functions.Pq
          .adcShortlistOver(cand, queries, pqCents, codes,
            m = 8, dim = 64, shortlist = 20)
          .select(col("q_id"), col("vec_id"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("l2").asc, col("vec_id").asc)
        ordered(
          short
            .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
            .join(queries, "q_id")
            .select(col("q_id"), col("vec_id"),
              graft.functions.Pq.d2(col("qe"), col("embedding")).as("l2"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(col("q_id"), col("rn"), col("vec_id"), r4(col("l2")).as("l2"))
        )
      }
    ),
    Q(
      "d6_ivfpq_persisted",
      // PERSISTED ANN BACKBONE (the d6 twin of d5_lsh_persisted /
      // d3_search_bm25_persisted — the FOURTH and final ingest-time
      // artifact family): AnnIndex.writeIndex encodes the corpus ONCE
      // (IVF assignment + PQ codes, the two corpus×codebook
      // broadcast-argmax passes that dominate every live ANN query) and
      // persists codebooks/inverted-file/codes as parquet; the IVF-PQ
      // search then plans FROM THE INDEX — at query time the float
      // corpus is scanned only for the 20-row exact rerank and the
      // 20-query probe side (ScaleShapeSpec pins the plan: exactly two
      // embeddings scans, index parquet for everything else). Output is
      // bit-identical to the live d6_ivfpq_search, so the same oracle
      // hash-checks BOTH legs — persistence is transparent. The demo
      // pays the index write inside the query; production writes once
      // per ingest and buckets ivf+codes by cluster so a probe reads
      // nProbe/k of the index.
      ivfpqOracle,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val idx = graft.IndexPaths.forSf("ann", dir)
        graft.functions.AnnIndex.writeIndex(corpus,
          spark.read.parquet(Repo.fixture("ivf_centroids.parquet")),
          spark.read.parquet(Repo.fixture("pq_centroids.parquet")),
          idx)
        ordered(
          graft.functions.AnnIndex
            .ivfpqSearch(spark, idx, queries, corpus,
              nProbe = 2, shortlist = 20, topK = 5)
            .select(col("q_id"), col("rn"), col("vec_id"),
              r4(col("l2")).as("l2"))
        )
      }
    ),
    Q(
      "d6_ivfpq_index_incremental",
      // INCREMENTAL ANN-INDEX MAINTENANCE (round-13 VERDICT ask #5 —
      // the d3_bm25_index_incremental discipline applied to the fourth
      // artifact family): the corpus is indexed WITHOUT one seventh of
      // the vectors, then that held-out batch arrives as an ingest and
      // AnnIndex.mergeBatch folds it in — running the two codebook
      // argmax passes (IVF assignment + PQ encoding) on the BATCH
      // ONLY, anti-joining replaced ivf/codes rows by broadcast
      // vec_id, codebooks frozen. The IVF-PQ search over the MERGED
      // index hash-matches the full-rebuild oracle — proving
      // build(corpus∖batch) + merge(batch) ≡ writeIndex(corpus)
      // bit-for-bit, i.e. ANN ingest cost rides batch size while
      // queries stay exact. The demo pays build + merge inside the
      // query; production merges per ingest.
      ivfpqOracle,
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val batch = corpus.filter(pmod(col("vec_id"), lit(7)) === 0)
        val idx = graft.IndexPaths.forSf("anninc", dir)
        // fresh base index each invocation (writeIndex overwrites), so
        // the merge is exercised — not a no-op over prior state
        graft.functions.AnnIndex.writeIndex(
          corpus.filter(pmod(col("vec_id"), lit(7)) =!= 0),
          spark.read.parquet(Repo.fixture("ivf_centroids.parquet")),
          spark.read.parquet(Repo.fixture("pq_centroids.parquet")),
          idx)
        graft.functions.AnnIndex.mergeBatch(spark, idx, batch)
        ordered(
          graft.functions.AnnIndex
            .ivfpqSearch(spark, idx, queries, corpus,
              nProbe = 2, shortlist = 20, topK = 5)
            .select(col("q_id"), col("rn"), col("vec_id"),
              r4(col("l2")).as("l2"))
        )
      }
    ),
    Q(
      "d6_ann_drift_retrain",
      // ANN CODEBOOK LIFECYCLE: drift-triggered retrain (round-14
      // VERDICT ask #3 — the piece that closes the loop mergeBatch
      // opened: codebooks stay FROZEN between retrains, so something
      // must decide WHEN to retrain). The monitor is PSI (the t16
      // exact-integer discipline) over IVF cluster-OCCUPANCY shares:
      // c1 = the persisted inverted file's per-cluster counts, c2 = an
      // incoming batch's assignments under the same frozen codebook.
      // Two legs are hash-checked: a batch drawn from the corpus
      // distribution (every 5th vector) reads PSI ≈ 0 — no retrain; a
      // NEW-DOMAIN batch (every 3rd vector TRANSLATED +1.0 per
      // component — float-exact cross-engine, piles into whichever
      // clusters face the new mode) reads PSI ≈ 5 ≫ 0.25 — retrain.
      // The require()s then pin the retrain chain end-to-end on
      // MEASURED recall: (a) detection thresholds hold on both legs;
      // (b) recall@5 of drifted queries through the STALE index (frozen
      // codebooks + mergeBatch of the batch — the quantization-drift
      // failure: the new mode shares a handful of PQ codes, so the ADC
      // shortlist cannot discriminate inside it; measured ~0.1-0.2)
      // is RESTORED by retraining (Ivf.train + Pq.train on the merged
      // corpus with MODE-COVERING interleaved seeds — lowest ids
      // alternate original/batch so both modes seed clusters — then
      // writeIndex; measured ~0.3-0.5, required ≥ stale + 0.05 and
      // ≥ 0.2 absolute with margin at both SFs). 100 TB shape: the
      // monitor reads the 8-row occupancy of the persisted ivf relation
      // plus one batch-sized assignment pass — it never scans the
      // corpus; retrain cost (two Lloyd passes over the merged corpus)
      // is paid only when PSI trips, which is the entire point.
      Some(s"""WITH ed AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |corpus AS (SELECT vec_id, v FROM ed WHERE vec_id >= 20),
              |drifted AS (
              |  SELECT vec_id + 10000000 AS vec_id,
              |         [CAST(CAST(x + 1.0 AS FLOAT) AS DOUBLE) FOR x IN v] AS v
              |  FROM corpus WHERE vec_id % 3 = 0
              |),
              |ascore AS (
              |  SELECT corpus.vec_id, cents.cluster,
              |         ${cosSql("corpus.v", "cents.cv")} AS sim
              |  FROM corpus CROSS JOIN cents
              |),
              |asgc AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM ascore GROUP BY vec_id
              |),
              |dscore AS (
              |  SELECT drifted.vec_id, cents.cluster,
              |         ${cosSql("drifted.v", "cents.cv")} AS sim
              |  FROM drifted CROSS JOIN cents
              |),
              |asgd AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM dscore GROUP BY vec_id
              |),
              |k8 AS (SELECT CAST(c AS INT) AS cluster
              |       FROM (SELECT unnest(range(0, 8)) AS c)),
              |occ_c AS (
              |  SELECT k8.cluster, CAST(count(a.vec_id) AS BIGINT) AS c1
              |  FROM k8 LEFT JOIN asgc a ON a.cluster = k8.cluster
              |  GROUP BY k8.cluster
              |),
              |occ_s AS (
              |  SELECT k8.cluster, CAST(count(a.vec_id) AS BIGINT) AS c2
              |  FROM k8 LEFT JOIN (SELECT * FROM asgc WHERE vec_id % 5 = 0) a
              |    ON a.cluster = k8.cluster
              |  GROUP BY k8.cluster
              |),
              |occ_d AS (
              |  SELECT k8.cluster, CAST(count(a.vec_id) AS BIGINT) AS c2
              |  FROM k8 LEFT JOIN asgd a ON a.cluster = k8.cluster
              |  GROUP BY k8.cluster
              |),
              |legs AS (
              |  SELECT 'stable' AS leg, oc.cluster, oc.c1, os.c2
              |  FROM occ_c oc JOIN occ_s os USING (cluster)
              |  UNION ALL
              |  SELECT 'drifted' AS leg, oc.cluster, oc.c1, od.c2
              |  FROM occ_c oc JOIN occ_d od USING (cluster)
              |),
              |tot AS (
              |  SELECT leg, CAST(sum(c1) + 8 AS BIGINT) AS t1s,
              |         CAST(sum(c2) + 8 AS BIGINT) AS t2s,
              |         CAST(sum(c2) AS BIGINT) AS n_batch
              |  FROM legs GROUP BY leg
              |),
              |terms AS (
              |  SELECT l.leg, t.t1s, t.t2s, t.n_batch,
              |         (l.c1 + 1) * t.t2s - (l.c2 + 1) * t.t1s AS num,
              |         CAST(round(ln(CAST((l.c1 + 1) * t.t2s AS DOUBLE)
              |                       / CAST((l.c2 + 1) * t.t1s AS DOUBLE)), 12)
              |              AS DECIMAL(20,12)) AS lr
              |  FROM legs l JOIN tot t USING (leg)
              |)
              |SELECT leg, n_batch,
              |       round(CAST(sum(num * lr) AS DOUBLE) / (t1s * t2s), 4) AS psi,
              |       CAST(round(CAST(sum(num * lr) AS DOUBLE) / (t1s * t2s), 4) > 0.25
              |            AS INT) AS retrain
              |FROM terms
              |GROUP BY leg, n_batch, t1s, t2s
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
        val corpus = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding")) // drop label: the
        // batch has none, and unionByName below must line up
        // the drift transform: +1.0 per component, computed double-then-
        // float-rounded — bit-equal to a float add in BOTH engines
        def drift(c: org.apache.spark.sql.Column) =
          transform(c, x => (x.cast("double") + lit(1.0d)).cast("float"))
        val batch = corpus.filter(pmod(col("vec_id"), lit(3)) === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            drift(col("embedding")).as("embedding"))
        val ivfCents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val pqCents = spark.read.parquet(Repo.fixture("pq_centroids.parquet"))
        // "ingest": the pre-drift persisted index (fresh each invocation)
        val idx = graft.IndexPaths.forSf("anndrift", dir)
        graft.functions.AnnIndex.writeIndex(corpus, ivfCents, pqCents, idx)
        // THE MONITOR — 8-row occupancies, driver-held (Bounded.local
        // also SNAPSHOTS them: the stale index below overwrites the ivf
        // relation this reads, and a lazy re-read would see the merge)
        val k8 = spark.range(0, 8).select(col("id").cast("int").as("cluster"))
        def occ(asg: DataFrame, cName: String): DataFrame = Bounded.local(
          k8.join(asg.select(col("vec_id"), col("cluster")), Seq("cluster"), "left")
            .groupBy(col("cluster"))
            .agg(count(col("vec_id")).cast("long").as(cName)))
        val ivfRel = spark.read.parquet(s"$idx/ivf")
        // corpus occupancy (c1) and the stable sample's (c2) fused into
        // ONE pass over the ivf relation (guide §1: two driver actions →
        // one): count(vec_id) over the join is c1, and the conditional
        // count over the vec_id%5 sample is exactly the filtered leg's
        // count — per-cluster values identical to the two-pass spelling
        val occCS = Bounded.local(
          k8.join(ivfRel.select(col("vec_id"), col("cluster")), Seq("cluster"), "left")
            .groupBy(col("cluster"))
            .agg(count(col("vec_id")).cast("long").as("c1"),
              count(when(pmod(col("vec_id"), lit(5)) === 0, col("vec_id")))
                .cast("long").as("c2")))
        val occC = occCS.select(col("cluster"), col("c1"))
        val occD = occ(graft.functions.Ivf.assign(batch, ivfCents), "c2")
        val legs = occCS.withColumn("leg", lit("stable"))
          .select(col("cluster"), col("c1"), col("c2"), col("leg"))
          .unionByName(
            occC.join(occD, "cluster").withColumn("leg", lit("drifted")))
        val tot = legs.groupBy(col("leg"))
          .agg((sum(col("c1")) + 8).cast("long").as("t1s"),
            (sum(col("c2")) + 8).cast("long").as("t2s"),
            sum(col("c2")).cast("long").as("n_batch"))
        // the t16 exact-integer PSI: ln of a ratio of exact BIGINT
        // products rounded ONCE to decimal(20,12), weighted by the
        // exact integer numerator, divided once per output value
        val terms = legs.join(tot, "leg")
          .select(col("leg"), col("t1s"), col("t2s"), col("n_batch"),
            ((col("c1") + 1) * col("t2s") - (col("c2") + 1) * col("t1s"))
              .as("num"),
            round(log(((col("c1") + 1) * col("t2s")).cast("double") /
              ((col("c2") + 1) * col("t1s")).cast("double")), 12)
              .cast("decimal(20,12)").as("lr"))
        val monitor = terms.groupBy(col("leg"), col("n_batch"),
            col("t1s"), col("t2s"))
          .agg(round(sum(col("num") * col("lr")).cast("double") /
            (col("t1s") * col("t2s")), 4).as("psi"))
          .withColumn("retrain", (col("psi") > 0.25).cast("int"))
          .select(col("leg"), col("n_batch"), col("psi"), col("retrain"))
          .cut(Shared) // consumed by the requires below AND the output
        val psiOf = monitor.select(col("leg"), col("psi")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        require(psiOf("stable") < 0.25 && psiOf("drifted") > 0.25,
          s"drift monitor mis-detected: $psiOf")
        // STALE path: the incremental merge every ingest runs — frozen
        // codebooks, batch folded in by AnnIndex.mergeBatch
        graft.functions.AnnIndex.mergeBatch(spark, idx, batch)
        val merged = corpus.unionByName(batch)
        val dq = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), drift(col("embedding")).as("qe"))
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("l2").asc, col("vec_id").asc)
        // exact top-5 by L2 (the ivfpqSearch metric) — the truth both
        // indexes are judged against (d6_recall_curve machinery)
        val truth = merged.crossJoin(broadcast(dq))
          .select(col("q_id"), col("vec_id"),
            graft.functions.Pq.d2(col("qe"), col("embedding")).as("l2"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"))
          .cut(Shared) // judged against twice (stale + retrained)
        def recallOf(idxPath: String): Double = {
          val approx = graft.functions.AnnIndex
            .ivfpqSearch(spark, idxPath, dq, merged,
              nProbe = 2, shortlist = 20, topK = 5)
            .select(col("q_id"), col("vec_id"))
          approx.join(truth, Seq("q_id", "vec_id")).count() / 100.0
        }
        val recallStale = recallOf(idx)
        // RETRAIN: mode-covering interleaved seeding — training ids
        // alternate original (even) / batch (odd), so the k lowest ids
        // seed BOTH modes (seeds drawn from one mode leave the new
        // domain sharing 1-2 codes per subspace and recall stays low —
        // measured; the stratified re-seed is the retrain policy)
        val trainRel = corpus
          .select(((col("vec_id") - 20) * 2).as("vec_id"), col("embedding"))
          .unionByName(batch.select(
            expr("(vec_id - 10000021) DIV 3 * 2 + 1").as("vec_id"),
            col("embedding")))
        val ivf2 = graft.functions.Ivf.train(trainRel, k = 8, iters = 2)
        val pq2 = graft.functions.Pq.train(trainRel, m = 8, ksub = 16,
          iters = 2, dim = 64)
        val idx2 = graft.IndexPaths.forSf("anndrift2", dir)
        graft.functions.AnnIndex.writeIndex(merged, ivf2, pq2, idx2)
        val recallRe = recallOf(idx2)
        require(recallRe >= recallStale + 0.05 && recallRe >= 0.2,
          s"retrain did not restore recall: stale=$recallStale " +
            s"retrained=$recallRe")
        ordered(monitor)
      }
    ),
    Q(
      "d5_semdedup",
      // SemDeDup (Abbas et al. 2023): semantic dedup by pruning
      // near-identical embeddings WITHIN k-means clusters — the trick
      // that makes embedding dedup tractable at corpus scale. A vector
      // is dropped iff a LOWER-id member of its own cluster is within
      // the cosine threshold, so the pair relation is confined to
      // cluster-local equi-join blocks (corpus²/k per cluster in
      // expectation), never a global cartesian — ScaleShapeSpec guards
      // the plan. Assignment reuses the frozen IVF centroid fixture, so
      // the whole operator is exact-hash-checked; emits every corpus row
      // with its cluster and a kept flag (keepers = the dedup survivors).
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |scored AS (
              |  SELECT e.vec_id, cents.cluster, ${cosSql("e.v", "cents.cv")} AS sim
              |  FROM e CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM scored GROUP BY vec_id
              |),
              |m AS (SELECT a.vec_id, a.cluster, e.v FROM asg a JOIN e USING (vec_id)),
              |dup AS (
              |  SELECT DISTINCT x.vec_id
              |  FROM m x JOIN m y ON x.cluster = y.cluster AND y.vec_id < x.vec_id
              |  WHERE ${cosSql("x.v", "y.v")} >= 0.45
              |)
              |SELECT m.vec_id, m.cluster,
              |       CAST(d.vec_id IS NULL AS INTEGER) AS kept
              |FROM m LEFT JOIN dup d ON d.vec_id = m.vec_id
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        // assignment computed ONCE; both sides of the cluster-local
        // self-join and the final left join read the materialized copy
        val m = graft.functions.Ivf.assign(e, cents).join(e, "vec_id")
          .select(col("vec_id"), col("cluster"), col("embedding"))
          .cut(Shared)
        val dup = m.as("x")
          .join(m.select(col("cluster"), col("vec_id").as("pid"),
            col("embedding").as("pemb")).as("y"),
            col("x.cluster") === col("y.cluster") && col("pid") < col("x.vec_id"))
          .filter(Vectors.cosineFast(col("x.embedding"), col("pemb")) >= 0.45)
          .select(col("x.vec_id")).distinct()
          .withColumn("is_dup", lit(1))
        ordered(
          m.join(dup, Seq("vec_id"), "left")
            .select(col("vec_id"), col("cluster"),
              col("is_dup").isNull.cast("int").as("kept"))
        )
      }
    ),
    Q(
      "d6_knn_graph",
      // k-NN GRAPH construction (k=3) — the backbone of graph-based
      // semantic clustering and diversity analysis over an embedded
      // corpus: each vector's 3 nearest neighbors WITHIN its k-means
      // cluster (same cluster-confinement trick as SemDeDup — the pair
      // relation is cluster-local equi-join blocks, corpus²/k expected,
      // never a global cartesian; the k-row centroid cross join is
      // fenced behind the eager materialization). Ranking a float
      // similarity is hash-checkable via the integer-key trick from the
      // IVF assignment: both engines' cosines are bit-identical
      // (strict-left-fold formula), so ranking by the sim scaled to an
      // exact integer with a vec_id tiebreak is deterministic. 100 TB:
      // one assignment pass, one cluster-partitioned self-join, windows
      // partitioned per vector over ≤cluster-size rows.
      Some(s"""WITH e AS (
              |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
              |  FROM embeddings
              |),
              |cents AS (
              |  SELECT cluster, [CAST(x AS DOUBLE) FOR x IN centroid] AS cv
              |  FROM '${Repo.fixture("ivf_centroids.parquet")}'
              |),
              |scored AS (
              |  SELECT e.vec_id, cents.cluster, ${cosSql("e.v", "cents.cv")} AS sim
              |  FROM e CROSS JOIN cents
              |),
              |asg AS (
              |  SELECT vec_id,
              |         CAST(9999 - (max(CAST(round((sim + 1.0) * 5e14) AS HUGEINT)
              |                          * 10000 + (9999 - cluster)) % 10000)
              |              AS INTEGER) AS cluster
              |  FROM scored GROUP BY vec_id
              |),
              |m AS (SELECT a.vec_id, a.cluster, e.v FROM asg a JOIN e USING (vec_id)),
              |prs AS (
              |  SELECT x.vec_id AS src, y.vec_id AS dst,
              |         ${cosSql("x.v", "y.v")} AS c
              |  FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
              |),
              |ranked AS (
              |  SELECT src, dst, round(c, 4) AS sim,
              |         row_number() OVER (
              |           PARTITION BY src
              |           ORDER BY CAST(round((c + 1.0) * 5e14) AS HUGEINT) DESC,
              |                    dst ASC) AS rn
              |  FROM prs
              |)
              |SELECT src AS vec_id, dst AS nn_id, sim, CAST(rn AS BIGINT) AS rank
              |FROM ranked WHERE rn <= 3
              |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        val e = t.embeddings
        val m = graft.functions.Ivf.assign(e, cents).join(e, "vec_id")
          .select(col("vec_id"), col("cluster"), col("embedding"))
          .cut(Shared) // both sides of the cluster-local self-join
        val c = Vectors.cosineFast(col("embedding"), col("pemb"))
        val prs = m
          .join(m.select(col("cluster"), col("vec_id").as("dst"),
            col("embedding").as("pemb")),
            Seq("cluster"))
          .filter(col("dst") =!= col("vec_id"))
          .select(col("vec_id"), col("dst"), c.as("c"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(round((col("c") + 1.0) * lit(5e14)).cast("long").desc,
            col("dst").asc)
        ordered(
          prs.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 3)
            .select(col("vec_id"), col("dst").as("nn_id"),
              r4(col("c")).as("sim"), col("rn").cast("long").as("rank")))
      }
    ),
    Q(
      "d6_kmeans_lloyd",
      // K-MEANS LLOYD TRAINING, exact-hash-checked — the piece Ivf.train
      // leaves spec-only (float centroid sums over shuffle order are not
      // reproducible). This twin makes one full Lloyd round deterministic
      // end to end: (1) assignment via the packed-BIGINT argmin — the
      // squared-L2 fold is a strict left fold in index order, quantized to
      // 1e-12 and packed with the cluster id so min() IS argmin with a
      // smallest-id tie-break; (2) the centroid update sums elements as
      // exact DECIMAL(25,15) after a single round(12) quantization —
      // order-independent, so the new means are bit-identical across
      // engines; (3) reassignment against the updated means, reporting
      // per-cluster sizes before/after, the quantized inertia, and the
      // first centroid coordinate. 100 TB shape: each iteration is one
      // corpus scan against a k-row broadcast plus one (cluster, dim)
      // hash aggregate (k*64 cells) with map-side partials — the classic
      // distributed Lloyd, with the k-row codebook the only driver-side
      // state.
      Some("""WITH e AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
             |  FROM embeddings
             |),
             |init AS (
             |  SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv
             |  FROM e WHERE vec_id < 8
             |),
             |d1 AS (
             |  SELECT e.vec_id, init.cluster,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [(e.v[i] - init.cv[i]) * (e.v[i] - init.cv[i])
             |            FOR i IN range(1, len(e.v) + 1)]),
             |           (acc, x) -> acc + x) AS d
             |  FROM e CROSS JOIN init
             |),
             |p1 AS (
             |  SELECT vec_id,
             |         min(CAST(round(d * 1000000000000) AS BIGINT) * 10000
             |             + cluster) AS p
             |  FROM d1 GROUP BY 1
             |),
             |a1 AS (
             |  SELECT e.vec_id, e.v, CAST(p1.p % 10000 AS INTEGER) AS cluster
             |  FROM e JOIN p1 USING (vec_id)
             |),
             |n1t AS (SELECT cluster, count(*) AS n1 FROM a1 GROUP BY 1),
             |mx AS (
             |  SELECT a1.cluster, r.range AS i,
             |         sum(CAST(round(a1.v[r.range], 12) AS DECIMAL(25,15))) AS s,
             |         count(*) AS cnt
             |  FROM a1 CROSS JOIN range(1, 65) r GROUP BY 1, 2
             |),
             |m AS (SELECT cluster, i, CAST(s AS DOUBLE) / cnt AS m FROM mx),
             |cents2 AS (SELECT cluster, list(m ORDER BY i) AS cv FROM m GROUP BY 1),
             |d2_ AS (
             |  SELECT e.vec_id, c.cluster,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
             |            FOR i IN range(1, len(e.v) + 1)]),
             |           (acc, x) -> acc + x) AS d
             |  FROM e CROSS JOIN cents2 c
             |),
             |p2 AS (
             |  SELECT vec_id,
             |         min(CAST(round(d * 1000000000000) AS BIGINT) * 10000
             |             + cluster) AS p
             |  FROM d2_ GROUP BY 1
             |),
             |a2 AS (
             |  SELECT vec_id, CAST(p % 10000 AS INTEGER) AS cluster,
             |         p // 10000 AS dq
             |  FROM p2
             |),
             |c0 AS (
             |  SELECT cluster, round(min(CASE WHEN i = 1 THEN m END), 6) AS c0
             |  FROM m GROUP BY 1
             |)
             |SELECT a2.cluster, min(n1t.n1) AS n1, count(*) AS n2,
             |       round(CAST(CAST(sum(a2.dq) AS BIGINT) AS DOUBLE)
             |             / 1000000000000, 4) AS inertia,
             |       min(c0.c0) AS c0
             |FROM a2 JOIN n1t USING (cluster) JOIN c0 USING (cluster)
             |GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
          .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
          // feeds init, both assignment scans, and the final vec join
          .cut(Shared)
        val init = e.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("cluster"), col("v").as("cv"))
        def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x)
        def argmin(cents: org.apache.spark.sql.DataFrame) =
          e.crossJoin(broadcast(cents))
            .select(col("vec_id"),
              (round(d2(col("v"), col("cv")) * lit(1000000000000d))
                .cast("long") * 10000 + col("cluster")).as("pk"))
            .groupBy(col("vec_id")).agg(min(col("pk")).as("p"))
        val a1 = e.join(argmin(init), Seq("vec_id"))
          .select(col("vec_id"), col("v"),
            (col("p") % 10000).cast("int").as("cluster"))
        val n1t = a1.groupBy(col("cluster")).agg(count(lit(1)).as("n1"))
        // the (cluster, dim) mean matrix is k×64 rows of driver state
        // (Bounded.local) feeding cents2 and the c0 report — the Lloyd
        // codebook discipline, not an executor-pinned checkpoint
        val m = Bounded.local(
          a1.select(col("cluster"), posexplode(col("v")).as(Seq("i0", "x")))
          .groupBy(col("cluster"), (col("i0") + 1).as("i"))
          .agg(sum(round(col("x"), 12).cast("decimal(25,15)")).as("s"),
            count(lit(1)).as("cnt"))
          .select(col("cluster"), col("i"),
            (col("s").cast("double") / col("cnt")).as("m")))
        val cents2 = m.groupBy(col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
            s => s.getField("m")).as("cv"))
        val a2 = argmin(cents2)
          .select(col("vec_id"), (col("p") % 10000).cast("int").as("cluster"),
            expr("p DIV 10000").as("dq"))
        val c0 = m.groupBy(col("cluster"))
          .agg(round(min(when(col("i") === 1, col("m"))), 6).as("c0"))
        ordered(
          a2.join(n1t, Seq("cluster")).join(c0, Seq("cluster"))
            .groupBy(col("cluster"))
            .agg(min(col("n1")).as("n1"), count(lit(1)).as("n2"),
              round(sum(col("dq")).cast("double") / lit(1000000000000d), 4)
                .as("inertia"),
              min(col("c0")).as("c0"))
        )
      }
    ),
    Q(
      "d6_kmeans_converge",
      // MULTI-ROUND LLOYD CONVERGENCE — d6_kmeans_lloyd's exact-hash round
      // run three times, reporting the training curve an operator actually
      // watches: per round the cluster count, how many vectors changed
      // cluster, and the quantized inertia. Lloyd's monotonicity makes the
      // inertia column non-increasing (assignment minimizes against the
      // means that minimized the previous assignment), and because every
      // step is engine-exact — packed-BIGINT argmin assignment, DECIMAL
      // (25,15) centroid sums over round(12)-quantized coordinates — the
      // whole three-round curve hash-matches, movement counts included.
      // 100 TB shape: per round ONE corpus scan against the k-row
      // driver-held codebook (Bounded.local — the distributed-Lloyd state
      // discipline) + one (cluster, dim) hash aggregate with map-side
      // partials; the movement join rides the assignment relation on the
      // same vec_id key; nothing driver-side ever exceeds k×dim.
      Some("""WITH e AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
             |  FROM embeddings
             |),
             |init AS (
             |  SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv
             |  FROM e WHERE vec_id < 8
             |),
             |dd1 AS (
             |  SELECT e.vec_id, c.cluster,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
             |            FOR i IN range(1, len(e.v) + 1)]),
             |           (acc, x) -> acc + x) AS d
             |  FROM e CROSS JOIN init c
             |),
             |a1 AS (
             |  SELECT vec_id, CAST(p % 10000 AS INTEGER) AS cluster,
             |         p // 10000 AS dq
             |  FROM (SELECT vec_id,
             |               min(CAST(round(d * 1000000000000) AS BIGINT) * 10000
             |                   + cluster) AS p
             |        FROM dd1 GROUP BY 1)
             |),
             |c1 AS (
             |  SELECT cluster, list(m ORDER BY i) AS cv
             |  FROM (SELECT a1.cluster, r.range AS i,
             |               CAST(sum(CAST(round(e.v[r.range], 12) AS DECIMAL(25,15)))
             |                    AS DOUBLE) / count(*) AS m
             |        FROM a1 JOIN e USING (vec_id) CROSS JOIN range(1, 65) r
             |        GROUP BY 1, 2)
             |  GROUP BY 1
             |),
             |dd2 AS (
             |  SELECT e.vec_id, c.cluster,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
             |            FOR i IN range(1, len(e.v) + 1)]),
             |           (acc, x) -> acc + x) AS d
             |  FROM e CROSS JOIN c1 c
             |),
             |a2 AS (
             |  SELECT vec_id, CAST(p % 10000 AS INTEGER) AS cluster,
             |         p // 10000 AS dq
             |  FROM (SELECT vec_id,
             |               min(CAST(round(d * 1000000000000) AS BIGINT) * 10000
             |                   + cluster) AS p
             |        FROM dd2 GROUP BY 1)
             |),
             |c2 AS (
             |  SELECT cluster, list(m ORDER BY i) AS cv
             |  FROM (SELECT a2.cluster, r.range AS i,
             |               CAST(sum(CAST(round(e.v[r.range], 12) AS DECIMAL(25,15)))
             |                    AS DOUBLE) / count(*) AS m
             |        FROM a2 JOIN e USING (vec_id) CROSS JOIN range(1, 65) r
             |        GROUP BY 1, 2)
             |  GROUP BY 1
             |),
             |dd3 AS (
             |  SELECT e.vec_id, c.cluster,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           [(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
             |            FOR i IN range(1, len(e.v) + 1)]),
             |           (acc, x) -> acc + x) AS d
             |  FROM e CROSS JOIN c2 c
             |),
             |a3 AS (
             |  SELECT vec_id, CAST(p % 10000 AS INTEGER) AS cluster,
             |         p // 10000 AS dq
             |  FROM (SELECT vec_id,
             |               min(CAST(round(d * 1000000000000) AS BIGINT) * 10000
             |                   + cluster) AS p
             |        FROM dd3 GROUP BY 1)
             |),
             |mv2 AS (
             |  SELECT CAST(sum(CASE WHEN x.cluster <> y.cluster THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_moved
             |  FROM a1 x JOIN a2 y USING (vec_id)
             |),
             |mv3 AS (
             |  SELECT CAST(sum(CASE WHEN x.cluster <> y.cluster THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_moved
             |  FROM a2 x JOIN a3 y USING (vec_id)
             |)
             |SELECT 1 AS iter, CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
             |       CAST(0 AS BIGINT) AS n_moved,
             |       round(CAST(CAST(sum(dq) AS BIGINT) AS DOUBLE)
             |             / 1000000000000, 4) AS inertia
             |FROM a1
             |UNION ALL
             |SELECT 2, CAST(count(DISTINCT cluster) AS BIGINT), min(mv2.n_moved),
             |       round(CAST(CAST(sum(dq) AS BIGINT) AS DOUBLE) / 1000000000000, 4)
             |FROM a2 CROSS JOIN mv2
             |UNION ALL
             |SELECT 3, CAST(count(DISTINCT cluster) AS BIGINT), min(mv3.n_moved),
             |       round(CAST(CAST(sum(dq) AS BIGINT) AS DOUBLE) / 1000000000000, 4)
             |FROM a3 CROSS JOIN mv3
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val e = t.embeddings
          .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
          .cut(Shared) // feeds all three assignment scans + mean joins
        def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x)
        def argmin(cents: DataFrame): DataFrame =
          e.crossJoin(broadcast(cents))
            .select(col("vec_id"),
              (round(d2(col("v"), col("cv")) * lit(1000000000000d))
                .cast("long") * 10000 + col("cluster")).as("pk"))
            .groupBy(col("vec_id")).agg(min(col("pk")).as("p"))
            .select(col("vec_id"), (col("p") % 10000).cast("int").as("cluster"),
              expr("p DIV 10000").as("dq"))
        def means(a: DataFrame): DataFrame = Bounded.local(
          a.join(e, Seq("vec_id"))
            .select(col("cluster"), posexplode(col("v")).as(Seq("i0", "x")))
            .groupBy(col("cluster"), (col("i0") + 1).as("i"))
            .agg(sum(round(col("x"), 12).cast("decimal(25,15)")).as("s"),
              count(lit(1)).as("cnt"))
            .select(col("cluster"), col("i"),
              (col("s").cast("double") / col("cnt")).as("m"))
            .groupBy(col("cluster"))
            .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
              s => s.getField("m")).as("cv")))
        var cents = Bounded.local(e.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("cluster"), col("v").as("cv")))
        var prev: DataFrame = null
        val stats = (1 to 3).map { r =>
          // assignment consumed by the stats row, the movement joins
          // (this round + next) and the mean update — one scan, reused
          val a = argmin(cents).cut(Iter)
          val base = a.agg(
            countDistinct(col("cluster")).as("n_clusters"),
            round(sum(col("dq")).cast("double") / lit(1000000000000d), 4)
              .as("inertia"))
          val st =
            if (r == 1)
              base.select(lit(r).as("iter"), col("n_clusters"),
                lit(0L).as("n_moved"), col("inertia"))
            else {
              val mv = a.select(col("vec_id"), col("cluster").as("c2"))
                .join(prev.select(col("vec_id"), col("cluster").as("c1")),
                  Seq("vec_id"))
                .agg(coalesce(sum(when(col("c1") =!= col("c2"), 1L)), lit(0L))
                  .as("n_moved"))
              base.crossJoin(mv) // two 1-row aggregates
                .select(lit(r).as("iter"), col("n_clusters"), col("n_moved"),
                  col("inertia"))
            }
          prev = a
          if (r < 3) cents = means(a)
          st
        }
        ordered(stats.reduce(_.unionByName(_)))
      }
    )
  )
}
