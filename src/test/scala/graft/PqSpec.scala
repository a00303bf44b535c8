package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Pq

/** Product quantization (D6): codebook/encode invariants, ADC recall vs
  * brute-force exact L2, determinism of the encode path, and the
  * scale-shape guarantee (no cartesian anywhere in the search pipeline —
  * the float corpus must never ride the candidate pass).
  */
class PqSpec extends AnyFunSuite {
  import SharedSpark._

  private val sfDir = "/root/testdata/sf0.01"
  private lazy val emb = graft.sources.Tables(spark, sfDir).embeddings
  private lazy val cents =
    spark.read.parquet(Repo.fixture("pq_centroids.parquet"))

  test("codebook fixture shape: 8 subspaces x 16 clusters of dim 8") {
    import spark.implicits._
    val rows = cents.select(col("sub"), col("cluster"), size(col("centroid")))
      .as[(Int, Int, Int)].collect()
    assert(rows.length == 8 * 16)
    assert(rows.forall(_._3 == 8))
    assert(rows.map(r => (r._1, r._2)).toSet ==
      (for { s <- 0 until 8; c <- 0 until 16 } yield (s, c)).toSet)
  }

  test("encode: every vector gets exactly 8 codes in [0, 16)") {
    import spark.implicits._
    val codes = Pq.assign(emb, cents, m = 8, dim = 64)
    val n = emb.count()
    assert(codes.count() == n * 8)
    val bad = codes.filter(col("code") < 0 || col("code") >= 16).count()
    assert(bad == 0L)
    // deterministic: two independent plans produce identical codes
    val again = Pq.assign(emb, cents, m = 8, dim = 64)
    assert(codes.exceptAll(again).count() == 0L &&
      again.exceptAll(codes).count() == 0L)
  }

  test("ADC shortlist + exact rerank recalls brute-force L2 top-1") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") >= 20).localCheckpoint()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .localCheckpoint()
    val codes = Pq.assign(corpus, cents, m = 8, dim = 64)
    val short = Pq.adcShortlist(queries, cents, codes,
      m = 8, dim = 64, shortlist = 40)
    // exact L2 over the shortlist only
    val w = Window.partitionBy(col("q_id")).orderBy(col("l2").asc, col("vec_id").asc)
    val pq = short.select(col("q_id"), col("vec_id"))
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(queries, "q_id")
      .select(col("q_id"), col("vec_id"), Pq.d2(col("qe"), col("embedding")).as("l2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toMap
    // brute-force exact L2 top-1 (the ground truth)
    val brute = queries.crossJoin(corpus.select(col("vec_id"), col("embedding")))
      .select(col("q_id"), col("vec_id"), Pq.d2(col("qe"), col("embedding")).as("l2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toMap
    assert(brute.size == 20 && pq.size == 20)
    val recall = brute.count { case (q, v) => pq.get(q).contains(v) }.toDouble / brute.size
    assert(recall >= 0.6, s"PQ top-1 recall $recall too low")
  }

  test("IVF-PQ composite: usable top-1 recall, candidates only from probed lists") {
    import spark.implicits._
    val ivfCents = spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
    val corpus = emb.filter(col("vec_id") >= 20)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val asg = graft.functions.Ivf.assign(corpus, ivfCents)
    val cand = graft.functions.Ivf.probes(queries, ivfCents, nProbe = 2)
      .select(col("q_id"), col("cluster")).join(asg, Seq("cluster"))
      .select(col("q_id"), col("vec_id"))
    // probe pruning is real: candidates are a strict subset of the corpus
    val nCorpus = corpus.count()
    val perQuery = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).as[Long].head()
    assert(perQuery < nCorpus, s"probes did not prune: $perQuery of $nCorpus")
    val short = Pq.adcShortlistOver(cand, queries, cents, codes = Pq.assign(
      corpus, cents, m = 8, dim = 64), m = 8, dim = 64, shortlist = 20)
    val top1 = short
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(queries, "q_id")
      .select(col("q_id"), col("vec_id"), Pq.d2(col("qe"), col("embedding")).as("l2"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("l2").asc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    val brute = queries.crossJoin(corpus)
      .select(col("q_id"), col("vec_id"), Pq.d2(col("qe"), col("embedding")).as("l2"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("l2").asc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    val recall = brute.count { case (q, v) => top1.get(q).contains(v) }.toDouble / brute.length
    assert(recall >= 0.5, s"IVF-PQ top-1 recall $recall too low")
  }

  test("d6_kmeans_converge: inertia non-increasing; own-trained centroids drive IVF search") {
    import spark.implicits._
    val curve = SparkEntry.queries("d6_kmeans_converge")(spark, sfDir)
      .orderBy(col("iter")).collect()
    assert(curve.length == 3)
    val inertias = curve.map(_.getAs[Double]("inertia"))
    // Lloyd monotonicity: each assignment minimizes against the means that
    // minimized the previous assignment (1e-9 slack absorbs the 1e-12
    // distance quantization at the argmin boundary)
    inertias.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"inertia increased: ${inertias.toSeq}")
    }
    // movement shrinks as training settles
    val moved = curve.map(_.getAs[Long]("n_moved"))
    assert(moved(0) == 0L && moved(2) <= moved(1),
      s"movement did not shrink: ${moved.toSeq}")
    // the IVF pipeline fed its OWN trained codebook (k-row driver state
    // from Ivf.train, not the frozen fixture file) must reach at least
    // the fixture codebook's recall on the same query set
    val e = emb
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val corpus = e.filter(col("vec_id") >= 10)
    val brute = corpus.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        graft.functions.Vectors.cosine(col("qe"), col("ce")).as("cos"))
      .groupBy(col("q_id")).agg(max(struct(col("cos"), col("c_id"))).as("m"))
      .select(col("q_id"), col("m.c_id").as("best"))
      .as[(Long, Long)].collect().toMap
    def recallOf(cb: org.apache.spark.sql.DataFrame): Double = {
      val got = graft.functions.Ivf.search(
          graft.functions.Ivf.index(corpus, cb), cb, q, nProbe = 3, topK = 1)
        .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toMap
      brute.count { case (k, v) => got.get(k).contains(v) }.toDouble / brute.size
    }
    val trained = recallOf(graft.functions.Ivf.train(e, k = 8, iters = 3))
    val fixture = recallOf(
      spark.read.parquet(Repo.fixture("ivf_centroids.parquet"))
        .select(col("cluster"), col("centroid")))
    assert(trained >= fixture - 0.11,
      s"self-trained codebook recall $trained far below fixture $fixture")
    assert(trained >= 0.5, s"self-trained IVF recall $trained too low")
  }

  test("scale shape: no cartesian in the PQ search plan; codebook joins broadcast") {
    val corpus = emb.filter(col("vec_id") >= 20)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val codes = Pq.assign(corpus, cents, m = 8, dim = 64)
    val short = Pq.adcShortlist(queries, cents, codes,
      m = 8, dim = 64, shortlist = 40)
    val plan = short.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "PQ search plan contains a cartesian:\n" + plan)
    assert(!plan.contains("CartesianProduct"),
      "PQ search plan contains a cartesian:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"),
      "codebook/dtable joins should broadcast:\n" + plan)
  }
}
