package graft

import org.scalatest.funsuite.AnyFunSuite

/** DEPLOY.md §2's one-dial swap, proven: `SPARK_GRAFT_RELIABLE=1`
  * (sysprop `graft.reliable=1` in-JVM) routes every `Materialize.cut`
  * through `persist(DISK_ONLY_2)` / reliable `checkpoint()` instead of
  * `localCheckpoint()`, and a full dedup chain — signatures → LSH band
  * join → verify → connected components (iterative cuts) → corpus
  * assignment — returns bit-identical rows either way.
  */
class MaterializeSpec extends AnyFunSuite {
  import SharedSpark._

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).toSeq

  /** Runs `body`, then frees only the RDDs it persisted (the reliable
    * run's Shared cuts are test-scoped). Freeing every persistent RDD
    * would also drop the localCheckpoint blocks behind plans other
    * suites still hold, such as `SharedSpark.registry`. */
  private def releasingOwnRdds[T](body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = false)
    }
  }

  test("reliable flag routes Shared cuts through persist and Iter through checkpoint") {
    assert(!Materialize.reliable)
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    sys.props("graft.reliable") = "1"
    try {
      assert(Materialize.reliable)
      val shared = Materialize.cut(df, Materialize.Shared)
      assert(shared.storageLevel.useDisk && shared.storageLevel.replication == 2)
      shared.unpersist(blocking = false)
      val iter = Materialize.cut(df, Materialize.Iter)
      // reliable checkpoint: the plan is a scan of checkpointed data
      assert(iter.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    } finally sys.props.remove("graft.reliable")
  }

  // One chain per Iter-cut family: d5_dedup_clusters (CC min-label loop
  // + Shared signature/posting cuts, dedup/Dedup.scala),
  // d2_bpe_merges (the BPE merge-round var-reassignment loop,
  // queries/TextOps.scala), d6_kmeans_lloyd (the Lloyd assignment cut
  // inside the iteration, queries/VectorOps.scala). Together they
  // exercise Shared persist + Iter checkpoint across all three loop
  // disciplines the audit table records.
  for (q <- Seq("d5_dedup_clusters", "d2_bpe_merges", "d6_kmeans_lloyd"))
    test(s"$q is hash-identical under SPARK_GRAFT_RELIABLE") {
      val (local, reliableRows) = releasingOwnRdds {
        val local = rows(q)
        sys.props("graft.reliable") = "1"
        try (local, rows(q))
        finally sys.props.remove("graft.reliable")
      }
      assert(local.nonEmpty)
      assert(local == reliableRows,
        s"reliable path diverged: ${local.size} vs ${reliableRows.size} rows")
    }

  test("uploadBatch replay works under SPARK_GRAFT_RELIABLE (Barrier cut)") {
    // the one cut site whose downstream write OVERWRITES its own input
    // path: uploadBatch(batchId) reads the store root (via all/latest)
    // and then dynamic-partition-overwrites it. A lazy persist leaves
    // the read in the plan and Spark throws "Cannot overwrite a path
    // that is also being read from" — the Barrier cut severs eagerly in
    // reliable mode too. Replay semantics must match local mode exactly.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, encode}
    def docs(rows: (String, String)*) = rows.toSeq.toDF("filename", "txt")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"))
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    sys.props("graft.reliable") = "1"
    try releasingOwnRdds {
      val store = new graft.dms.DocStore(spark,
        java.nio.file.Files.createTempDirectory("graft_dms_rel").toString,
        nShards = 4)
      store.uploadBatch(docs(("a.txt", "a v1")), ts, batchId = Some("b0"))
      // crashed partial attempt, then the full replay of the same batch
      store.uploadBatch(docs(("a.txt", "a v2 partial")), ts, batchId = Some("b1"))
      store.uploadBatch(docs(("a.txt", "a v2"), ("b.txt", "b v1")), ts,
        batchId = Some("b1"))
      assert(store.versions("a.txt") == Seq(1, 2))
      assert(new String(store.download("a.txt").get, "UTF-8") == "a v2")
      assert(store.versions("b.txt") == Seq(1))
      assert(store.all.count() == 3)
    } finally sys.props.remove("graft.reliable")
  }
}
