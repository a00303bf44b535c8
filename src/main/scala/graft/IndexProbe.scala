package graft

/** Diagnostic main (like [[Plans]]): times the
  * FROM-INDEX legs of the persisted artifacts ALONE — the registered
  * persisted queries price write+query together (the honest demo
  * convention), so the scale recounts in SCALING.md need this probe to
  * show what a production query pays AFTER ingest has amortized the
  * write. Requires the per-SF indexes to exist (run the persisted
  * queries via Bench first — they write to the fixed
  * [[IndexPaths.forSf]] locations this probe reads).
  *
  * Usage: SPARK_GRAFT_SHUFFLE=256 tools/run.sh graft.IndexProbe <sfDir>
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Graft.session(appName = "graft-index-probe")

    // two timed passes per leg: the first carries JVM/codegen warmup
    // (Bench amortizes it across the sweep); the warm pass is the
    // steady-state production cost
    for (pass <- Seq("cold", "warm")) {
      val t0 = System.nanoTime
      val bm25 = graft.functions.TextIndex.bm25(
        spark, IndexPaths.forSf("text", dir),
        Seq("spark", "window", "shuffle"))
      bm25.write.format("noop").mode("overwrite").save()
      println(f"bm25_from_index_${pass}_sec=${(System.nanoTime - t0) / 1e9}%.3f")
      if (pass == "warm")
        bm25.queryExecution.executedPlan.toString.linesIterator
          .filter(l => l.contains("In(term"))
          .take(2).foreach(l => println("PUSH " + l.trim.take(200)))
    }
    for (pass <- Seq("cold", "warm")) {
      val t1 = System.nanoTime
      val pairs = graft.dedup.Dedup.minhashPairsFromSignatures(
        spark.read.parquet(IndexPaths.forSf("lsh", dir) + "/signatures"),
        numHashes = 8, rowsPerBand = 2, minEstJaccard = 0.5)
      pairs.write.format("noop").mode("overwrite").save()
      println(f"lsh_from_index_${pass}_sec=${(System.nanoTime - t1) / 1e9}%.3f")
    }
    // ANN: IVF-PQ search FROM the persisted index (the round-14 decade
    // recount) — probe + ADC + shortlist rerank, zero corpus encoding;
    // the embeddings-scan count pins that the float corpus serves only
    // the query side and the shortlist rerank at any SF
    {
      import org.apache.spark.sql.functions.col
      val e = graft.sources.Tables(spark, dir).embeddings
      val corpus = e.filter(col("vec_id") >= 20)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      for (pass <- Seq("cold", "warm")) {
        val t2 = System.nanoTime
        val ann = graft.functions.AnnIndex.ivfpqSearch(
          spark, IndexPaths.forSf("ann", dir), queries, corpus,
          nProbe = 2, shortlist = 20, topK = 5)
        ann.write.format("noop").mode("overwrite").save()
        println(f"ann_from_index_${pass}_sec=${(System.nanoTime - t2) / 1e9}%.3f")
        if (pass == "warm") {
          val plan = ann.queryExecution.executedPlan.toString
          println("ANN_EMB_SCANS " + plan.linesIterator.count(l =>
            l.contains("Scan parquet") && l.contains("embeddings")))
        }
      }
    }
    // CBO sketch (round 15): incremental maintenance vs full rebuild —
    // mergeBatch must ride BATCH size (one 1/7-corpus sketch pass + a
    // ≤2·4·256-row cell union) while writeSketch re-scans the corpus.
    // The base sketch is re-seeded before each merge so every timed
    // merge does identical work.
    {
      import org.apache.spark.sql.functions._
      val fact = graft.sources.Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey").as("partkey"))
      val isBatch = pmod(col("l_orderkey"), org.apache.spark.sql.functions.lit(7)) === 0
      val p = IndexPaths.forSf("cbosketchprobe", dir)
      for (pass <- Seq("cold", "warm")) {
        graft.plans.SketchCbo.writeSketch(
          fact.filter(!isBatch), col("partkey"), p)
        val t3 = System.nanoTime
        graft.plans.SketchCbo.mergeBatch(
          spark, p, fact.filter(isBatch), col("partkey"))
        println(f"cbo_merge_batch_${pass}_sec=${(System.nanoTime - t3) / 1e9}%.3f")
        val t4 = System.nanoTime
        graft.plans.SketchCbo.writeSketch(fact, col("partkey"), p + "_full")
        println(f"cbo_full_rebuild_${pass}_sec=${(System.nanoTime - t4) / 1e9}%.3f")
      }
    }
    // ANN drift monitor (round 15): the detection cost a production
    // deployment pays PER INGEST — the corpus side is one map-side-
    // combinable 8-row occupancy aggregate over the persisted ivf
    // relation (two ints per row, no floats, no corpus text), the batch
    // side one batch×codebook assignment pass. Requires the "ann" index
    // (run d6_ivfpq_persisted via Bench first, like the legs above).
    {
      import org.apache.spark.sql.functions._
      val e = graft.sources.Tables(spark, dir).embeddings
      val batch = e.filter(col("vec_id") >= 20 &&
          pmod(col("vec_id"), org.apache.spark.sql.functions.lit(3)) === 0)
        .select(col("vec_id"), col("embedding"))
      val cents = spark.read.parquet(
        IndexPaths.forSf("ann", dir) + "/ivf_centroids")
      for (pass <- Seq("cold", "warm")) {
        val t5 = System.nanoTime
        val corpusOcc = spark.read
          .parquet(IndexPaths.forSf("ann", dir) + "/ivf")
          .groupBy(col("cluster")).count().collect()
        val batchOcc = graft.functions.Ivf.assign(batch, cents)
          .groupBy(col("cluster")).count().collect()
        println(f"ann_drift_monitor_${pass}_sec=${(System.nanoTime - t5) / 1e9}%.3f " +
          s"(corpus_cells=${corpusOcc.length} batch_cells=${batchOcc.length})")
      }
    }
    spark.stop()
  }
}
